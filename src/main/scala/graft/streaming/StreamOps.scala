package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.DotProduct.dot
import graft.operators.Tables.r6

/** Structured Streaming operator surface [EXT] (SURVEY.md §2B streaming
  * rows). The reference's "streaming" is only incremental cursor
  * batching (mongo2pq/extract_load.py:69-74); these are the real
  * streaming semantics a large-scale pipeline needs, built on event
  * time + watermarks so they run identically on a bounded batch or an
  * unbounded stream.
  *
  * All transforms take/return DataFrames so they compose with
  * `readStream` sources and `writeStream` sinks; unit tests drive them
  * with `MemoryStream` (deterministic, no timers) per SURVEY.md §7.4.8.
  */
object StreamOps {

  /** Tumbling-window counts/sums per event type with late-data handling:
    * rows later than `watermarkDelay` behind the max event time are
    * dropped, so state is bounded — the aggregation never holds more
    * than (watermark / window) open windows per key. */
  def tumblingAgg(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** Sliding-window variant (overlapping windows). */
  def slidingAgg(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows: rows within `gap` of each other merge into one
    * variable-length session per key (built-in `session_window` state
    * store; watermark bounds how long an open session lingers). */
  def sessionAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    sessionAggBody(events.withWatermark("ts", watermarkDelay), gap)

  /** The session aggregation WITHOUT the watermark definition — the
    * shared body of [[sessionAgg]] and [[dedupedSessionAgg]]: a
    * chained-stateful pipeline must define the watermark exactly ONCE
    * (Spark rejects redefinition upstream of a second stateful op). */
  private def sessionAggBody(watermarked: DataFrame, gap: String): DataFrame =
    watermarked
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("s_start"), col("w.end").as("s_end"),
        col("user_id"), col("n"), col("total_value"))

  /** Stateful exact dedup on a key column within the watermark horizon —
    * the streaming form of `dropDuplicates`: state for a key is freed
    * once the watermark passes it, so memory is bounded by the horizon,
    * not the stream length. */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Composed stateful pipeline [EXT]: exact dedup within the
    * watermark horizon CHAINED INTO session-window aggregation in one
    * streaming query — two state stores back to back (Spark >= 3.5
    * supports chained stateful operators in append mode; the dedup's
    * event-time column flows through unmodified, so the session
    * operator's watermark is consistent with the dedup's).
    *
    * State bound at any stream length: dedup state holds only keys
    * newer than the watermark horizon; session state holds only OPEN
    * sessions (finalized once the watermark passes end + gap). Total
    * state is O(events within horizon + open sessions) — independent
    * of how much stream has flowed — pinned by SessionWindowSpec
    * across >= 3 watermark advances. */
  def dedupedSessionAgg(
      events: DataFrame,
      keyCols: Seq[String] = Seq("user_id", "ts"),
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    sessionAggBody(dedupWithinWatermark(events, keyCols, watermarkDelay), gap)

  final case class PackDoc(source: String, doc_id: Long, n_tokens: Long)
  final case class PackState(offset: Long)
  final case class PackSpan(source: String, chunk: Long, doc_id: Long,
      doc_off: Long, n_tok: Long, chunk_off: Long)

  final case class KeyObs(shard: Int, key: String)
  final case class MgState(counters: Map[String, Long], n: Long)
  final case class ShardHeavy(shard: Int, key: String, est: Long, n: Long, bound: Long)

  /** Streaming heavy-key monitor [EXT] — the incremental form of
    * q157's skew advisor and q131's heavy hitters: per key-space
    * SHARD, a Misra–Gries summary rides flatMapGroupsWithState. State
    * is at most `m` counters + one Long per shard — O(shards × m)
    * TOTAL no matter how much history has flowed — and never times
    * out (the q76 forever-index contract: a skew monitor that forgot
    * history would under-report steady heavy keys).
    *
    * Every trigger emits the shard's counters with est > n/(m+1),
    * each row carrying (est, n, bound) so the guarantee is
    * self-certifying: est ≤ true always, so an emitted key REALLY
    * exceeds the bound (no false heavies), and any key with
    * true > 2n/(m+1) is always emitted (est ≥ true − n/(m+1) >
    * bound). Exact counter values legitimately vary with arrival
    * order — only the bound-facts are contracts, the q131 doctrine.
    *
    * Sharding IS the scale contract: observations partition across
    * shards (callers hash the key, `pmod(xxhash64(key), lit(shards))`)
    * so no single task becomes the hot-spot the monitor exists to
    * detect; cross-shard totals merge downstream with the q131 batch
    * aggregate, MG summaries being mergeable (PODS '12). The counter
    * update is [[graft.functions.MisraGries.observe]] — ONE source of
    * truth with the batch Aggregator, so the error bound is the same
    * theorem in both forms. */
  def skewMonitor(obs: Dataset[KeyObs], m: Int = 64): Dataset[ShardHeavy] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.shard)
      .flatMapGroupsWithState[MgState, ShardHeavy](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[KeyObs], state: GroupState[MgState]) =>
          val st = state.getOption.getOrElse(MgState(Map.empty, 0L))
          val b = scala.collection.mutable.HashMap(st.counters.toSeq: _*)
          var n = st.n
          rows.foreach { r =>
            if (r.key != null) {
              graft.functions.MisraGries.observe(b, r.key, m)
              n += 1
            }
          }
          state.update(MgState(b.toMap, n))
          val bound = n / (m + 1)
          b.toSeq.filter(_._2 > bound).sortBy(_._1)
            .map { case (k, est) => ShardHeavy(shard, k, est, n, bound) }
            .iterator
      }
  }

  /** Streaming GPT-style sequence packing — the streaming form of
    * q153: per source, an arriving doc stream is cut into fixed
    * `ctx`-token chunks with docs SPLIT across chunk boundaries, and
    * the per-source token OFFSET is the only state (one Long per
    * source — bounded regardless of how much history flowed through).
    * Emits the same (chunk, doc_off, n_tok, chunk_off) span rows a
    * loader ships, incrementally.
    *
    * Ordering contract (documented, test-pinned): chunk assignment is
    * ARRIVAL order — batch order, doc_id-sorted within a batch — so a
    * fixed batch sequence yields a deterministic packing; unlike the
    * batch q153 there is no global doc_id order to sort by, exactly
    * as a production packer consumes an ingest stream. State never
    * times out: a source's offset must survive arbitrarily long gaps
    * (the analogue of q76's forever-index contract, but O(1) per
    * source instead of per-key). */
  def sequencePack(docs: Dataset[PackDoc], ctx: Long = 256L): Dataset[PackSpan] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[PackState, PackSpan](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[PackDoc], state: GroupState[PackState]) =>
          var off = state.getOption.map(_.offset).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            val n = math.max(d.n_tokens, 1L) // q153's splitter never yields 0 cells
            val st = off; off += n
            (st / ctx to (off - 1) / ctx).map { c =>
              val s0 = math.max(st, c * ctx)
              val s1 = math.min(off, (c + 1) * ctx)
              PackSpan(src, c, d.doc_id, s0 - st, s1 - s0, s0 - c * ctx)
            }
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  /** Streaming anomaly detection against a batch-trained baseline —
    * the streaming form of q100: finalized tumbling-window counts per
    * event type are compared to STATIC per-type (mean, sigma) stats
    * (trained by the batch job, e.g. q100's sufficient statistics) and
    * windows above mean + k*sigma are emitted. One stateful operator
    * (the windowed count, watermark-bounded); the baseline joins as a
    * broadcast — the same static-side shape as [[dedupAgainstIndex]].
    * At scale the baseline is metadata-sized (one row per key) no
    * matter how much history trained it. */
  def anomaliesVsBaseline(
      events: DataFrame,
      baseline: DataFrame, // (event_type, mean, sigma)
      k: Double = 2.0,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    tumblingAgg(events, watermarkDelay, windowLen)
      .join(broadcast(baseline), Seq("event_type"))
      // sigma > 0 guard: a zero-variance baseline (legitimate q100
      // output for an all-equal-days type) cannot express a k-sigma
      // threshold — without the guard any above-mean window would
      // emit with a divide-by-zero NULL zscore
      .filter(col("sigma") > 0 && col("n") > col("mean") + lit(k) * col("sigma"))
      .select(col("event_type"), col("w_start"), col("n"),
        ((col("n") - col("mean")) / col("sigma")).as("zscore"))

  final case class ValueEvent(event_type: String, ts: java.sql.Timestamp, value: Double)
  final case class RunningStats(n: Long, sum: Double, sumSq: Double)
  final case class ValueAnomaly(event_type: String, ts: java.sql.Timestamp,
      value: Double, zscore: Double, n_seen: Long)

  /** Self-updating running anomaly detector via flatMapGroupsWithState:
    * per event type, keep running (n, sum, sumsq) of VALUES; each event
    * is scored against the stats of the events seen BEFORE it (so an
    * outlier can't mask itself) and emitted when |z| > k, then folded
    * into the state. The first `minHistory` events per key only train.
    * State is three numbers per key — bounded forever, no watermark
    * needed. The within-batch fold processes events in batch order,
    * which MemoryStream makes deterministic for tests; at scale each
    * key's state lives on one partition (groupByKey hash), the same
    * skew surface as any keyed aggregation. */
  def runningValueAnomalies(
      events: Dataset[ValueEvent],
      k: Double = 3.0,
      minHistory: Long = 10L): Dataset[ValueAnomaly] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[RunningStats, ValueAnomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[ValueEvent], state: GroupState[RunningStats]) =>
          var s = state.getOption.getOrElse(RunningStats(0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[ValueAnomaly]
          rows.foreach { e =>
            if (s.n >= minHistory) {
              val mean = s.sum / s.n
              val variance = s.sumSq / s.n - mean * mean
              val sigma = math.sqrt(math.max(variance, 0.0))
              if (sigma > 0.0 && math.abs(e.value - mean) > k * sigma)
                out += ValueAnomaly(key, e.ts, e.value, (e.value - mean) / sigma, s.n)
            }
            s = RunningStats(s.n + 1, s.sum + e.value, s.sumSq + e.value * e.value)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming near-identical dedup by content fingerprint: each doc's
    * 64-bit `simhash64` is computed row-local (codegen, no shuffle),
    * then stateful dedup runs on the FINGERPRINT within the watermark
    * horizon — docs whose distinct-token sets hash to the same simhash
    * (identical or trivially-reordered/duplicated-token content) are
    * emitted once. State is one fingerprint per horizon, bounded like
    * [[dedupWithinWatermark]]; the text column never enters state.
    * (Hamming-distance near-dup pairing stays a batch operator — q61 —
    * because a doc would need verdicts from every LSH band group, which
    * doesn't compose in one streaming stateful stage.)
    *
    * Token-less docs (empty or punctuation-only text) have NO
    * fingerprint — simhash64 of an empty token array would collapse
    * every such doc to fingerprint 0 and silently drop distinct
    * non-duplicates (e.g. "!!!" vs "???") as dups of each other. They
    * carry a null `simhash` and pass through un-deduped: exact dedup
    * owns them, the same routing as q61/q76/[[dedupAgainstIndex]]. */
  def fingerprintDedup(
      docs: DataFrame,
      textCol: String = "text",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val withFp = withFingerprint(docs, textCol, "simhash")
    val deduped = withFp
      .filter(col("simhash").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("simhash")
    deduped.unionByName(withFp.filter(col("simhash").isNull))
  }

  /** Row-local content fingerprint: distinct-token `simhash64`, NULL
    * for token-less docs (exact dedup owns them — the engine-wide
    * routing rule). The single source of truth for the streaming
    * side's tokenize+fingerprint, shared by [[fingerprintDedup]],
    * [[dedupAgainstIndex]] and [[incrementalIndexedDedup]]. */
  private def withFingerprint(df: DataFrame, textCol: String, fpCol: String): DataFrame =
    df.withColumn("__fp_toks", array_remove(split(lower(col(s"`$textCol`")), "\\W+"), ""))
      .withColumn(fpCol, when(size(col("__fp_toks")) > 0, expr("simhash64(__fp_toks)")))
      .drop("__fp_toks")

  /** Stream-static enrichment join: the static side is broadcast per
    * micro-batch, so the stream never shuffles. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming incremental near-dedup against a STATIC fingerprint
    * index — the streaming form of q76: arriving docs whose simhash64
    * is within `maxHamming` of any index fingerprint are dropped.
    *
    * The index is an 8-byte-per-doc `simhash` column (exactly what the
    * batch dedup pipeline persists); it is bucketed by the two
    * unsigned 32-bit half-bands and broadcast, and each stream row
    * probes its own two buckets with a popcount check — stateless and
    * exact-recall for hamming <= 1 (pigeonhole: such a pair agrees on
    * a whole half). Like [[decontaminate]], an exploded band join
    * can't express "NO index entry matches" on a stream without
    * re-aggregating per doc, so the probe is a per-row predicate.
    * For an index too large to broadcast, run the batch q76 shape in
    * `foreachBatch` instead — [[incrementalIndexedDedup]] IS that form.
    * Token-less docs have no fingerprint and pass through (exact dedup
    * owns them, as in q61/q76).
    *
    * The broadcast-sized-index contract (SCALE_DESIGN rule 2) is
    * enforced MECHANICALLY: the index cardinality is counted before
    * collection and an index beyond `maxIndexEntries` (default 2M
    * fingerprints ≈ low-hundreds of MB as a driver bucket map) fails
    * fast with the escape hatch in the message, instead of OOMing the
    * driver mid-collect. */
  def dedupAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      textCol: String = "text",
      maxHamming: Int = 1,
      maxIndexEntries: Long = 2000000L): DataFrame = {
    // the half-band probe has exact recall ONLY up to hamming 1
    // (pigeonhole over 2 bands); a larger radius would silently miss
    // pairs differing in both halves
    require(maxHamming >= 0 && maxHamming <= 1,
      s"dedupAgainstIndex supports maxHamming 0 or 1, got $maxHamming")
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val indexCount = index.filter("simhash IS NOT NULL").count()
    require(indexCount <= maxIndexEntries,
      s"dedupAgainstIndex collects the static index to the driver and " +
        s"this index has $indexCount fingerprints (> $maxIndexEntries allowed); " +
        "for an index this size use incrementalIndexedDedup (the foreachBatch " +
        "half-band equi-join form, which never collects the index) or raise " +
        "maxIndexEntries if the driver heap genuinely has room")
    val buckets: Map[(Int, Long), Array[Long]] = index
      // a null fingerprint (token-less doc in a pre-guard index) has
      // no bands to probe — same rule as the stream side
      .selectExpr("simhash").filter("simhash IS NOT NULL")
      .collect().map(_.getLong(0))
      .flatMap(fp => Seq((0, fp & 0xffffffffL) -> fp, (1, fp >>> 32) -> fp))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    val bc = spark.sparkContext.broadcast(buckets)
    val matchesIndex = udf { (fp: java.lang.Long) =>
      fp != null && {
        val f = fp.longValue()
        def probe(band: Int, half: Long): Boolean =
          bc.value.getOrElse((band, half), Array.emptyLongArray)
            .exists(ix => java.lang.Long.bitCount(ix ^ f) <= maxHamming)
        probe(0, f & 0xffffffffL) || probe(1, f >>> 32)
      }
    }
    withFingerprint(docs, textCol, "__dedup_fp")
      .filter(!matchesIndex(col("__dedup_fp")))
      .drop("__dedup_fp")
  }

  /** Streaming ingestion with a GROWING near-dup index — the
    * `foreachBatch` form [[dedupAgainstIndex]]'s doc points to for an
    * index too large to broadcast: each micro-batch
    *
    *  1. fingerprints its docs row-local (`simhash64`; token-less docs
    *     carry a null fingerprint and always pass — exact dedup owns
    *     them, as everywhere else);
    *  2. drops docs within hamming <= 1 of the persisted index via the
    *     half-band EQUI-JOIN (the batch q76 shape — the index is read
    *     as a table, never collected to the driver);
    *  3. dedups WITHIN the batch: keep-first per exact fingerprint,
    *     then pair-based hamming<=1 removal across different
    *     fingerprints (the q61 band self-join, smaller `idCol` wins) —
    *     without this step the output would depend on micro-batch
    *     boundaries (two near-dups in one batch would BOTH survive
    *     where split batches drop the second). Like q58's pair stage
    *     this is pair-based, not component-canonical: a chain
    *     A~B~C in ONE batch keeps only A.
    *  4. appends survivors to `outPath` and their fingerprints to the
    *     index, so later batches dedup against everything ingested.
    *
    * Scale: per batch, one scan of the batch plus one equi-join against
    * the full index on the 32-bit half-band key (the index is appended
    * unpartitioned parquet, so it IS rescanned each batch and gains a
    * file per batch — for long-lived streams, periodically compact it
    * and/or partition by a band prefix; the join itself stays hash-
    * based and never quadratic). foreachBatch is at-least-once: a
    * replayed batch can re-append rows (the usual trade for multi-sink
    * batches); replays are then caught by the index probe on the next
    * batch, and downstream exact dedup (q25) removes re-appended
    * duplicates — document-level correctness, not byte-level write
    * idempotence. Only a MISSING index path reads as empty (first
    * batch); any other read failure fails the batch so the checkpoint
    * retries it — swallowing a transient storage error would silently
    * disable dedup for that batch.
    *
    * With `reportPath` set, each batch also publishes the q171-style
    * per-source INGEST REPORT (batch_id, source, n_new, dup_index,
    * dup_batch, kept — the identity n_new = dup_index + dup_batch +
    * kept holds per row): the streaming twin of the batch
    * q171_incremental_ingest, derived from the same frames the dedup
    * itself consumes so the report cannot disagree with the sink.
    * Report rows land in `<reportPath>/batch_id=<N>` with OVERWRITE —
    * a replayed batch rewrites its own report instead of duplicating
    * it (idempotent where the out/index appends are at-least-once). */
  def incrementalIndexedDedup(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpoint: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      reportPath: Option[String] = None,
      srcCol: String = "source"): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    // the stream runs on a clone of this session, taken at start()
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fp = withFingerprint(batch, textCol, "__fp")
        val hadoopPath = new org.apache.hadoop.fs.Path(indexPath)
        val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val index: DataFrame =
          if (fs.exists(hadoopPath)) spark.read.parquet(indexPath).select(col("simhash"))
          else spark.range(0).select(col("id").as("simhash"))
        def bands(df: DataFrame, fpCol: String, outCol: String) =
          df.selectExpr(s"$fpCol AS $outCol", graft.operators.Dedup.halfBandsSql(fpCol))
        val hits = bands(fp.filter(col("__fp").isNotNull).select(col("__fp")).distinct(), "__fp", "pf")
          .join(bands(index, "simhash", "ix"), Seq("band", "half"))
          .filter(expr("bit_count(pf ^ ix) <= 1"))
          .select(col("pf")).distinct()
        val fresh = fp.join(hits, fp("__fp") === hits("pf"), "left_anti")
        // keep-first per exact fingerprint (null fps all pass)
        val w = Window.partitionBy(col("__fp")).orderBy(col(s"`$idCol`"))
        val firstPerFp = fresh
          .withColumn("__rn", when(col("__fp").isNull, lit(1)).otherwise(row_number().over(w)))
          .filter(col("__rn") === 1).drop("__rn")
        // pair-based hamming<=1 removal across the batch's survivors
        val bbands = firstPerFp.filter(col("__fp").isNotNull)
          .selectExpr(s"`$idCol` AS __id", "__fp", graft.operators.Dedup.halfBandsSql("__fp"))
        val losers = bbands.as("x").join(bbands.as("y"),
            col("x.band") === col("y.band") && col("x.half") === col("y.half") &&
            col("x.__id") > col("y.__id"))
          .filter(expr("bit_count(x.__fp ^ y.__fp) <= 1"))
          .select(col("x.__id").as(idCol)).distinct()
        // persist: both writes below consume `kept`, and the second
        // must not re-trigger the index scan while appending to it
        val kept = firstPerFp.join(losers, Seq(idCol), "left_anti").persist()
        // the report's lineage includes `fresh` = the anti-join against
        // the index AS OF BATCH START, so it must be FULLY MATERIALIZED
        // before the index append below: the append invalidates every
        // cache entry that reads indexPath (CacheManager recache), and
        // a lazily re-evaluated report would see this batch's own
        // fingerprints in the index and classify everything dup_index
        // (observed: a persisted frame survived collect() but its WRITE
        // re-ran post-append). The report is |sources| rows BY
        // CONSTRUCTION (SCALE_DESIGN rule 2 compliant), so it collects
        // to the driver and is written back from literal rows — no
        // lineage, no laziness hazard.
        val report = reportPath.map { rp =>
          def bySrc(df: DataFrame, nm: String) =
            df.groupBy(col(srcCol).as("source")).agg(count(lit(1)).as(nm))
          val r = bySrc(fp, "n_new")
            .join(bySrc(fresh, "after_index"), Seq("source"), "left")
            .join(bySrc(kept, "kept"), Seq("source"), "left")
            .na.fill(0L, Seq("after_index", "kept"))
            .select(col("source"), col("n_new"),
              (col("n_new") - col("after_index")).as("dup_index"),
              (col("after_index") - col("kept")).as("dup_batch"),
              col("kept"))
          (rp, r.schema, r.collect())
        }
        try {
          kept.drop("__fp").write.mode("append").parquet(outPath)
          kept.filter(col("__fp").isNotNull)
            .select(col("__fp").as("simhash")).distinct()
            .write.mode("append").parquet(indexPath)
          // the report is ADVISORY: it runs after the out/index appends,
          // so a report-write failure must not fail the batch — that
          // would trigger a checkpoint replay that RE-APPENDS the
          // already-committed rows, widening the at-least-once
          // duplication window for the sake of a diagnostic artifact.
          // Log and move on; the (overwrite-mode, per-batch-dir) write
          // self-heals on the next successful batch of the same id.
          report.foreach { case (rp, schema, rows) =>
            try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$rp/batch_id=$batchId")
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[incrementalIndexedDedup] ingest-report write failed for batch $batchId " +
                    s"(out/index appends already committed, batch NOT failed): ${e.getMessage}")
            }
          }
        } finally kept.unpersist()
        ()
      }
      .start()
  }

  /** Streaming SCD-1 upsert via foreachBatch — the streaming form of
    * q111: each micro-batch is applied latest-wins onto a persisted
    * keyed current-state table. The merge is one latest-wins window
    * over state ∪ batch (highest `orderCol` per key survives; bake
    * any tiebreak into orderCol), so the final state is the latest
    * row per key over ALL input — independent of micro-batch
    * boundaries AND robust to cross-batch late data: a stale version
    * arriving after a newer one is already in state loses, where the
    * q111-style "batch replaces state on key match" would regress the
    * row. Since the simple form rewrites the full state anyway, the
    * global window costs the same as the anti-join merge here; at
    * partitioned-state scale, apply the window within touched
    * partitions only.
    *
    * The state is VERSIONED, never swapped in place: each batch
    * writes `<statePath>/v<N+1>` and only then deletes older
    * versions; a read takes the highest COMMITTED version (dir with
    * Spark's _SUCCESS marker). There is no window in which the
    * current state is deleted before its successor is durable — a
    * crash at any point leaves either vN (batch replays and re-merges
    * idempotently) or vN+1 (replay merges onto the already-merged
    * state, also idempotent), and a partially-written version without
    * _SUCCESS is ignored. No version present reads as empty (first
    * batch); a LISTING/read failure fails the batch for checkpoint
    * retry — the [[incrementalIndexedDedup]] hardening rule.
    *
    * Scale: the merge windows over state ∪ batch, so every
    * micro-batch shuffles and rewrites the FULL state — the
    * simple-and-correct form, right when state is dimension-sized.
    * At 100 TB state, partition the state by key range and apply the
    * same versioned merge only to partitions the batch touches. */
  def streamingUpsert(
      stream: DataFrame,
      statePath: String,
      checkpoint: String,
      keyCol: String,
      orderCol: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(statePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // committed versions = v<N> dirs carrying Spark's _SUCCESS
        def versions(): Seq[Long] =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
            .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
            .map(_.getPath.getName.drop(1).toLong)
        val cur = versions().sorted.lastOption
        val all = cur match {
          case Some(n) => batch.unionByName(spark.read.parquet(s"$statePath/v$n"))
          case None => batch
        }
        val w = Window.partitionBy(col(s"`$keyCol`")).orderBy(col(s"`$orderCol`").desc)
        val merged = all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val next = cur.getOrElse(0L) + 1
        merged.write.mode("overwrite").parquet(s"$statePath/v$next")
        // cleanup strictly AFTER the successor is committed — and
        // including UNcommitted v<N> dirs below it (a crashed write
        // leaves a _SUCCESS-less dir readers already ignore; without
        // this they'd accumulate forever)
        if (fs.exists(root)) fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
          .filter(_.getPath.getName.drop(1).toLong < next)
          .foreach(s => fs.delete(s.getPath, true))
        ()
      }
      .start()
  }

  /** The current committed state of a [[streamingUpsert]] table: the
    * highest `v<N>` version carrying _SUCCESS. Before the first commit
    * it returns an empty frame WITH `schema` when one is supplied —
    * callers can select the key/value columns unconditionally — and
    * the column-less `emptyDataFrame` otherwise (r3 advice: the old
    * docstring promised a schema the code never had). */
  def upsertState(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.getName.drop(1).toLong)
    vs.sorted.lastOption match {
      case Some(n) => spark.read.parquet(s"$statePath/v$n")
      case None =>
        schema.map(sc => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
          .getOrElse(spark.emptyDataFrame)
    }
  }

  /** Streaming benchmark decontamination — the streaming form of q71:
    * docs sharing any word `n`-gram with the static benchmark are
    * dropped as they arrive. The benchmark gram set is collected once
    * on the driver and broadcast (eval suites are MBs; at larger sizes
    * swap the exact set for `DataFrameStatFunctions.bloomFilter` —
    * same shape, bounded memory, conservative false-positive drops).
    * The check is a stateless per-row predicate: no explode, no join,
    * no state — an exploded semi/anti join cannot express "NO gram
    * matches" on a stream without re-aggregating rows per doc. */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    // gram construction shared with the batch operators (q71 et al.) —
    // built over an internal column name so a caller's own toks/grams
    // columns are never clobbered
    val gramsExpr = expr(graft.operators.Dedup.gramArraySql(n, "__decontam_toks"))
    def withGrams(df: DataFrame): DataFrame = df
      .withColumn("__decontam_toks", split(lower(col(s"`$textCol`")), "\\W+"))
      .withColumn("__decontam_grams", gramsExpr)
      .drop("__decontam_toks")
    val benchSet = withGrams(benchmark)
      .select(explode(col("__decontam_grams")).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(benchSet)
    val contaminated = udf((grams: Seq[String]) =>
      grams != null && grams.exists(bc.value.contains))
    withGrams(docs).filter(!contaminated(col("__decontam_grams"))).drop("__decontam_grams")
  }

  /** Stream-stream interval join — the streaming form of the batch band
    * join (q21): errors within `within` after a purchase by the same
    * user. Both sides carry watermarks and the join condition bounds
    * event time on both, so each side's buffered state is evictable
    * once the watermark passes (bounded memory on unbounded streams). */
  def bandJoinStream(
      events: DataFrame,
      within: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermarkDelay)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"), col("ts").as("ets"))
      .withWatermark("ets", watermarkDelay)
    purchases.join(errors,
      expr(s"user_id = e_user_id AND ets > pts AND ets <= pts + INTERVAL $within"))
      .select(col("purchase_id"), col("error_id"))
  }

  final case class LineObs(doc_id: Long, h: String)
  final case class LineDfState(docs: Set[Long], promoted: Boolean)
  final case class BoilerplatePromotion(h: String, df: Long)

  /** Streaming boilerplate-promotion — the incremental twin of q191's
    * line-DF census: line observations (doc_id, line-hash) accumulate
    * per-hash distinct-doc state, and a hash is EMITTED exactly once,
    * the moment its document frequency crosses `minDf` — the signal an
    * ingest pipeline uses to start stripping a newly-viral banner
    * without re-scanning the corpus. Emission is once-per-hash by
    * construction (the `promoted` latch), so downstream can blindly
    * append to its boilerplate set.
    *
    * Scale contract: state per hash is the distinct-doc set CAPPED at
    * minDf (once promoted the set is dropped and only the latch
    * remains — state for a banner seen a billion times is ONE boolean);
    * below the cap it is < minDf longs. The shuffle key is the line
    * hash — the same partitioning the batch census uses. Per-hash
    * state is bounded but the KEY POPULATION grows with unique-line
    * cardinality — on a long-running ingest that is the unbounded
    * term, so `stateTtl` (processing-time) expires sub-threshold
    * censuses that have gone quiet: a line not re-seen within the TTL
    * forgets its partial count and restarts on return (approximate DF
    * for very slow-accumulating banners — the CCNet trade). Promoted
    * latches are NEVER expired — they are the (naturally small) true-
    * boilerplate set, and keeping them preserves the once-per-hash
    * emission contract verbatim. Default None = exact DF, NoTimeout:
    * correct for bounded replays (tests, backfills); production
    * streams should set a TTL of several ingest cycles. Operational
    * note: with a TTL set, pair the query with an explicit trigger
    * interval — under ProcessingTimeTimeout the engine always plans a
    * follow-up micro-batch (the real clock keeps advancing), so the
    * default as-fast-as-possible trigger busy-loops empty batches and
    * `processAllAvailable` never observes quiescence (poll the sink
    * instead in tests). */
  def boilerplatePromotions(
      lines: Dataset[LineObs],
      minDf: Int = 3,
      stateTtl: Option[String] = None): Dataset[BoilerplatePromotion] = {
    import lines.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    lines
      .groupByKey(_.h)
      .flatMapGroupsWithState[LineDfState, BoilerplatePromotion](
        OutputMode.Append, timeoutConf) {
        (h: String, rows: Iterator[LineObs], state: GroupState[LineDfState]) =>
          if (state.hasTimedOut) {
            // TTL expiry: drop a quiet sub-threshold census (its count
            // restarts if the line returns). A promoted latch is KEPT —
            // it can never re-emit — and its timeout re-armed: the
            // store would otherwise hold the fired (past-due) timestamp
            // and re-invoke this branch on every micro-batch. Cost: one
            // wake per TTL per promoted hash, a naturally tiny set.
            state.getOption match {
              case Some(st) if st.promoted =>
                state.update(st)
                stateTtl.foreach(state.setTimeoutDuration)
              case _ => state.remove()
            }
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(LineDfState(Set.empty, promoted = false))
            if (prev.promoted) { Iterator.empty } // latched: nothing to track
            else {
              val docs = rows.foldLeft(prev.docs)(_ + _.doc_id)
              if (docs.size >= minDf) {
                state.update(LineDfState(Set.empty, promoted = true))
                Iterator.single(BoilerplatePromotion(h, docs.size.toLong))
              } else {
                state.update(LineDfState(docs, promoted = false))
                stateTtl.foreach(state.setTimeoutDuration)
                Iterator.empty
              }
            }
          }
      }
  }

  final case class QYObs(source: String, quality: Double, n_tokens: Long)
  final case class QYState(census: Map[Int, (Long, Long)])
  final case class QualityYieldRow(source: String, n_scored: Long,
    cut_keep_from: Int, threshold: Double, docs_kept: Long,
    tokens_kept: Long, token_yield: Double)

  /** Grid census → per-cut yield table, the single source of truth
    * shared by [[qualityYieldStream]] and its batch twin
    * [[qualityYieldBatch]] (so the streaming spec can assert EXACT
    * equality). For each cut d ∈ 1..10, drop whole grid buckets from
    * the bottom while the dropped doc count stays ≤ ⌊(d−1)·n/10⌋ —
    * never split a bucket (the published granularity is the 1e-2
    * grid), publish the kept doc/token mass and the grid threshold. */
  private def yieldTable(source: String, census: Map[Int, (Long, Long)]): Seq[QualityYieldRow] = {
    val n = census.valuesIterator.map(_._1).sum
    val totTok = census.valuesIterator.map(_._2).sum
    if (n == 0L) return Seq.empty
    val asc = census.toSeq.sortBy(_._1)
    (1 to 10).map { d =>
      val target = (d - 1).toLong * n / 10
      var dropped = 0L
      var i = 0
      while (i < asc.length && dropped + asc(i)._2._1 <= target) {
        dropped += asc(i)._2._1; i += 1
      }
      val keptTok = asc.iterator.drop(i).map(_._2._2).sum
      val thr = if (i < asc.length) asc(i)._1 / 100.0 else 1.01
      QualityYieldRow(source, n, d, thr, n - dropped, keptTok,
        r6(keptTok.toDouble / math.max(totTok, 1L)))
    }
  }

  /** Streaming per-source quality-yield curve — the incremental twin
    * of q194: pre-scored docs (source, quality, n_tokens) accumulate a
    * per-source census and every trigger re-emits the source's current
    * 10-row yield table (each cut priced: docs/tokens surviving it),
    * tagged with the running `n_scored` so readers keep the latest.
    *
    * State design — adjudicated AGAINST the quantile-sketch Aggregator
    * (functions/QuantileSketch.scala) the batch family uses: the
    * sketch's retained values are legitimately merge-order-dependent
    * (its own contract — only the error BOUND is order-free), so a
    * replayed stream could emit a different table than the batch pass,
    * which is exactly the equality this twin must guarantee. The
    * quality score is BOUNDED in [0, 1] (q30's composite), so an exact
    * 1e-2 GRID census — ≤ 101 (docs, tokens) cells per source — is
    * simultaneously smaller than sketch state, exactly mergeable,
    * order-free and replay-deterministic; thresholds are read off the
    * census CDF at grid resolution instead of sketch quantiles. Cuts
    * therefore differ from batch q194's exact per-doc NTILE only
    * within a grid cell — the documented granularity trade.
    *
    * Scale: state ≤ 101 cells × 16 B per source; the shuffle key is
    * `source` (the same partitioning batch q194's window uses); output
    * is 10 rows per source per trigger. */
  def qualityYieldStream(scored: Dataset[QYObs]): Dataset[QualityYieldRow] = {
    import scored.sparkSession.implicits._
    scored
      .groupByKey(_.source)
      .flatMapGroupsWithState[QYState, QualityYieldRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[QYObs], state: GroupState[QYState]) =>
          val prev = state.getOption.map(_.census).getOrElse(Map.empty[Int, (Long, Long)])
          val census = rows.foldLeft(prev) { (m, r) =>
            val b = math.min(100, math.max(0, math.round(r.quality * 100).toInt))
            val (d0, t0) = m.getOrElse(b, (0L, 0L))
            m.updated(b, (d0 + 1L, t0 + r.n_tokens))
          }
          state.update(QYState(census))
          yieldTable(src, census).iterator
      }
  }

  /** Batch twin of [[qualityYieldStream]] over the same input shape —
    * one partial-combined census per (source, grid bucket), then the
    * shared [[yieldTable]] over each ≤ 101-row census. Exists so the
    * streaming spec asserts exact stream-vs-batch equality. */
  def qualityYieldBatch(scored: Dataset[QYObs]): Dataset[QualityYieldRow] = {
    import scored.sparkSession.implicits._
    scored
      .map(r => (r.source,
        math.min(100, math.max(0, math.round(r.quality * 100).toInt)), r.n_tokens))
      .toDF("source", "bucket", "n_tokens")
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
      .as[(String, Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (src, cells) =>
        yieldTable(src, cells.map(c => c._2 -> (c._3, c._4)).toMap).iterator
      }
  }

  /** Streaming IVF serve leg — the streaming twin of q189's
    * frozen-centroid assignment: arriving vectors are assigned to
    * their nearest trained cell MAP-ONLY (no shuffle, no state), the
    * production shape for index ingest between retrains.
    *
    * The trained centroid frame is collected ONCE at plan time
    * (guarded — it is O(√n·dims) by construction, the
    * [[dedupAgainstIndex]] static-side discipline) and folded into a
    * per-row argmin over an array literal, so each row's assignment
    * is a single codegen'd `aggregate` — the exact numeric contract
    * of the batch path (1e-6-rounded expanded-form d2, cell-id
    * tiebreak via the encoded-BIGINT key, overflow raising rather
    * than corrupting). Emits (vec_id, cell, d2) in append mode.
    * Freezing is STRUCTURAL: the literal is captured before the
    * stream starts, so no micro-batch can observe a different index
    * — retraining is a new query, never a mutation.
    *
    * Scale: √(10⁹)·64 dims ≈ 16 MB of literal — plan-shippable; for
    * indexes beyond `maxCentroids` keep the frame on executors
    * instead (stream-static broadcast join + per-key min, which
    * re-introduces the per-trigger shuffle this form exists to
    * avoid). */
  def assignAgainstFrozenCentroids(
      stream: DataFrame,       // (vec_id bigint, v array<double>, ...)
      centroids: DataFrame,    // trained (cid bigint, cv array<double>, cc double)
      maxCentroids: Int = 1 << 17): DataFrame =
    withFrozenCell(stream, centroids, maxCentroids)
      .select(col("vec_id"), col("cell"), col("d2"))

  /** The frozen-centroid argmin as an APPEND: adds (cell, d2) to every
    * stream row, keeping all existing columns — factored out of
    * [[assignAgainstFrozenCentroids]] so compositions that need the
    * row payload downstream (the MMR serve joins candidates through
    * the query vector) run the IDENTICAL batch argmin contract
    * (1e-6-rounded expanded-form d2, cid tiebreak via the encoded
    * BIGINT key, loud overflow). */
  private[graft] def withFrozenCell(
      stream: DataFrame,
      centroids: DataFrame,
      maxCentroids: Int = 1 << 17): DataFrame = {
    // installs the functions itself: layerbench's serve lanes call it
    // directly, not only through the public serves below
    graft.functions.GraftFunctions.register(stream.sparkSession)
    val rows = centroids.select(col("cid"), col("cv"), col("cc"))
      .limit(maxCentroids + 1).collect()
    require(rows.length <= maxCentroids,
      s"centroid frame exceeds $maxCentroids rows — not a trained IVF index; " +
        "use a stream-static broadcast join for indexes this large")
    require(rows.nonEmpty, "empty centroid frame")
    val cents: Seq[(Long, Seq[Double], Double)] =
      rows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    stream
      .withColumn("__cents", typedLit(cents))
      .withColumn("__vv", expr("dot_product(v, v)"))
      .withColumn("__enc", expr(
        """aggregate(__cents, CAST(9223372036854775807 AS BIGINT), (acc, c) ->
          |  least(acc, CASE
          |    WHEN abs(CAST(round(round(__vv - 2.0 * dot_product(v, c._2) + c._3, 6) * 1e6) AS BIGINT)) < 2147483648
          |    THEN CAST(round(round(__vv - 2.0 * dot_product(v, c._2) + c._3, 6) * 1e6) AS BIGINT) * 4294967296 + c._1
          |    ELSE raise_error('graft IVF argmin: d2 grid overflow (|d2| >= 2147)')
          |  END))""".stripMargin))
      .withColumn("cell", col("__enc").bitwiseAND(lit((1L << 32) - 1)))
      .withColumn("d2",
        round(shiftright(col("__enc"), 32).cast("double") / 1e6, 6))
      .drop("__cents", "__vv", "__enc")
  }

  /** Streaming semantic decontamination — the streaming twin of q192:
    * arriving embedding rows are flagged MAP-ONLY against the fixed
    * benchmark set (collected once at plan time, guarded — a
    * benchmark is metadata-sized by definition), emitting
    * (vec_id, bench_id, cosine, n_hits) for every vector with
    * rounded cosine ≥ `tau` to ANY benchmark vector. The per-row
    * argmax uses the batch contract verbatim (1e-6-rounded cosine,
    * max-cosine / min-id tiebreak via the encoded-BIGINT key), so a
    * row flagged here is flagged identically by the batch audit.
    * Stateless append — no watermark, no shuffle; the n-gram twin is
    * [[decontaminate]]. */
  def semanticDecontamStream(
      stream: DataFrame,      // (vec_id bigint, v array<double>, ...)
      benchmark: DataFrame,   // (bench_id bigint, v array<double>)
      tau: Double = 0.35,
      maxBenchmark: Int = 1 << 16): DataFrame = {
    graft.functions.GraftFunctions.register(stream.sparkSession)
    val rows = benchmark.select(col("bench_id"), col("v"))
      .limit(maxBenchmark + 1).collect()
    require(rows.length <= maxBenchmark,
      s"benchmark frame exceeds $maxBenchmark rows — not a benchmark; " +
        "block through LSH buckets (q55's path) for corpus-scale sets")
    require(rows.nonEmpty, "empty benchmark frame")
    val bench: Seq[(Long, Seq[Double], Double)] = rows.toSeq.map { r =>
      val v = r.getSeq[Double](1)
      (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
    }
    stream
      .withColumn("__bench", typedLit(bench))
      .withColumn("__na", sqrt(expr("dot_product(v, v)")))
      .withColumn("__acc", expr(
        s"""aggregate(
           |  transform(__bench, b -> named_struct(
           |    'c', round(dot_product(v, b._2) / (__na * b._3), 6), 'id', b._1)),
           |  named_struct('enc', 9223372036854775807L, 'n', CAST(0 AS BIGINT)),
           |  (acc, x) -> CASE WHEN x.c >= $tau
           |    THEN named_struct(
           |      'enc', least(acc.enc, CAST(round(-x.c * 1e6) AS BIGINT) * 4294967296 + x.id),
           |      'n', acc.n + 1L)
           |    ELSE acc END)""".stripMargin))
      .filter(col("__acc.n") > 0)
      .select(col("vec_id"),
        col("__acc.enc").bitwiseAND(lit((1L << 32) - 1)).as("bench_id"),
        round(-shiftright(col("__acc.enc"), 32).cast("double") / 1e6, 6).as("cosine"),
        col("__acc.n").as("n_hits"))
  }

  /** Per-trigger cell-count deltas for the ingest-imbalance alarm —
    * the streaming feed for q178/q189/q196's retrain signal. Each
    * micro-batch's assignments collapse to (cell, delta = sign·count)
    * and commit under `deltaPath/<dirPrefix><batchId>` — overwrite per
    * batch id, so a checkpoint replay after a crash rewrites the same
    * directory instead of double-counting (the [[streamingUpsert]]
    * idempotence rule); readers take only _SUCCESS-committed dirs.
    * `sign = +1, dirPrefix = "b"` is the ingest leg; the tombstone
    * leg ([[ivfTombstoneDeltas]]) writes `sign = -1` under "d" dirs —
    * two independent queries with independent batch-id sequences, so
    * the prefixes keep their overwrite namespaces disjoint. */
  def ivfIngestDeltas(
      assignments: DataFrame, // from [[assignAgainstFrozenCentroids]]
      deltaPath: String,
      checkpoint: String,
      sign: Int = 1,
      dirPrefix: String = "b"): org.apache.spark.sql.streaming.StreamingQuery =
    assignments.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.groupBy(col("cell")).agg((count(lit(1)) * sign).as("delta"))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite").parquet(s"$deltaPath/$dirPrefix$id")
        ()
      }
      .start()

  /** Streaming ANN index DELETIONS — the missing third of the ingest
    * leg (build → ingest → delete): a tombstone stream of full vector
    * rows (vec_id, v) is assigned to its cell against the SAME frozen
    * centroid literal the ingest leg uses (assignment is deterministic,
    * so the tombstone lands in exactly the cell its add landed in) and
    * folded into the [[ivfIngestDeltas]] table as NEGATIVE per-trigger
    * counts under `d<batchId>` dirs. Replay-idempotent under the same
    * overwrite-by-batch-id rule: a crash-replayed delete batch rewrites
    * its own dir, never double-counts. [[ivfImbalanceAfterIngest]]
    * reads b- and d-dirs together, so the alarm sees NET cell sizes
    * and publishes the deletion census a compaction trigger reads. */
  def ivfTombstoneDeltas(
      tombstones: DataFrame,   // (vec_id bigint, v array<double>, ...)
      centroids: DataFrame,    // the SAME trained frame the ingest leg froze
      deltaPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ivfIngestDeltas(assignAgainstFrozenCentroids(tombstones, centroids),
      deltaPath, checkpoint, sign = -1, dirPrefix = "d")

  /** The q189 imbalance-after-ingest alarm over a [[ivfIngestDeltas]]
    * table: folds every committed per-trigger delta — ingest b-dirs
    * AND tombstone d-dirs — onto the batch census `base(cell, szo)`
    * and publishes the q189 row shape (max cell × nlist / n over NET
    * sizes) plus the deletion census: `n_deleted` (total tombstoned)
    * and `max_dead_frac` (the worst per-cell deleted fraction) — the
    * number a compaction trigger compares against its τ, the streaming
    * read of q196's batch live-fraction audit. */
  def ivfImbalanceAfterIngest(
      spark: org.apache.spark.sql.SparkSession,
      deltaPath: String,
      base: DataFrame, // (cell, szo) — the frozen index's cell census
      nlist: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("[bd]\\d+"))
        .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
    val deltas = committed match {
      case Nil => base.select(col("cell"), lit(0L).as("szn"), lit(0L).as("dead")).limit(0)
      case ps => spark.read.parquet(ps: _*)
        .groupBy(col("cell")).agg(sum(col("delta")).as("szn"),
          sum(when(col("delta") < 0, -col("delta")).otherwise(0L)).as("dead"))
    }
    base.join(deltas, Seq("cell"), "full")
      .na.fill(0L, Seq("szo", "szn", "dead"))
      .agg(
        sum(col("szo")).as("n_old"), sum(col("szn")).as("n_new"),
        max(col("szo") + col("szn")).as("max_cell_after"),
        sum(col("dead")).as("n_deleted"),
        max(round(col("dead").cast("double")
          / greatest(col("szo") + col("szn") + col("dead"), lit(1L)), 6)).as("max_dead_frac"))
      .select(lit(nlist).as("nlist"), col("n_old"), col("n_new"),
        col("max_cell_after"),
        round(col("max_cell_after").cast("double") * lit(nlist.toDouble)
          / (col("n_old") + col("n_new")), 6).as("imbalance_after"),
        col("n_deleted"), col("max_dead_frac"))
  }

  // ---- streaming BM25 serve ----------------------------------------

  final case class BmQuery(qid: Long, terms: Seq[String])
  final case class BmHit(qid: Long, doc_id: Long, n_terms: Long, bm25: Double)

  /** The frozen lexical index a serving fleet loads: per-(tok, doc)
    * postings carrying doc length, tf, and the BUILD-TIME df per
    * token, plus the corpus constants (n_docs, total tokens). One
    * batch construction — the q145 tf/df chain verbatim (shared
    * [[graft.operators.Dedup.withToks]] tokenizer + `token_tf`
    * kernel) — typically written to parquet and re-read by the
    * serving session (the q204 discipline; parquet round-trips the
    * BIGINT stats exactly). */
  def buildBm25Postings(docs: DataFrame): (DataFrame, Long, Long) = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = graft.operators.Dedup.withToks(docs)
    val c = toks.agg(count(lit(1)), sum(size(col("toks")))).collect()(0)
    val postings = toks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(expr("token_tf(toks)")).as("kv"))
      .select(col("doc_id"), col("dl"), col("kv.tok").as("tok"), col("kv.tf").as("tf"))
      .withColumn("dfc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
    (postings, c.getLong(0), c.getLong(1))
  }

  /** Streaming BM25 serve — the LEXICAL twin of
    * [[assignAgainstFrozenCentroids]]: a stream of query bags
    * `(qid, terms)` is served against the frozen postings index from
    * [[buildBm25Postings]]. The scoring is q145's contract verbatim
    * (rational log-free idf from the FROZEN build-time df, round-6
    * per-term partials, exact-decimal per-doc sums — the per-group
    * BigDecimal fold is the same order-insensitive sum as the batch
    * DECIMAL(28,6) route because each partial is already on the 1e-6
    * grid), so a query served here returns exactly the batch top-k —
    * spec-asserted against q145's published frame. Frozen-stats
    * drift over a growing corpus is q206's batch audit.
    *
    * Plan shape: explode the (small) term bag, ONE stream-static
    * equi-join on `tok` — the static side prunes to the posting lists
    * of the batch's terms; nothing corpus-sized enters the stream
    * side — then a per-qid group fold that keeps ONLY the per-doc
    * accumulator map and emits top-k. A query's candidates are
    * posting-list-bounded (Σ df over its terms); production engines
    * bound the worst case with WAND-style pruning, which would slot
    * in as a df cap on the static side. State: none retained
    * (NoTimeout, state never set) — each query is served in the
    * micro-batch it arrives in; a qid re-sent in a later batch is
    * served again (at-least-once serving, idempotent output). */
  def bm25ServeStream(queries: Dataset[BmQuery], postings: DataFrame,
                      nDocs: Long, totTokens: Long, k: Int = 10): Dataset[BmHit] = {
    import graft.operators.RetrievalOps.{K1, B}
    val s = queries.sparkSession
    import s.implicits._
    val avgdl = totTokens.toDouble / nDocs
    // array_distinct BEFORE the join: the batch contract (q145) scores
    // a term SET (isin membership), so a repeated term in the bag must
    // not join its posting list twice — that would double the term's
    // partial and inflate n_terms, breaking batch-equality.
    val scored = queries.toDF()
      .select(col("qid"), explode(array_distinct(col("terms"))).as("tok"))
      .join(postings, Seq("tok"))
      .withColumn("part", round(
        ((lit(nDocs) - col("dfc") + 0.5) / (col("dfc") + 0.5)) *
          (col("tf") * (K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / lit(avgdl)))), 6))
      .select(col("qid"), col("doc_id"), col("part"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[Boolean]) => {
          val byDoc = scala.collection.mutable.Map.empty[Long, (Long, BigDecimal)]
          rows.foreach { case (_, d, p) =>
            val (n, acc) = byDoc.getOrElse(d, (0L, BigDecimal(0)))
            byDoc(d) = (n + 1, acc + BigDecimal(p))
          }
          byDoc.toSeq
            .map { case (d, (n, acc)) => (d, n, acc.toDouble) }
            .sortBy { case (d, _, sc) => (-sc, d) }
            .take(k)
            .map { case (d, n, sc) => BmHit(qid, d, n, sc) }
            .iterator
        })
  }

  // ---- streaming ANN + MMR serve -----------------------------------

  final case class MmrHit(qid: Long, sel_rank: Int, vec_id: Long,
                          rel: Double, mmr: Double)

  /** Streaming vector serve with diversity — the full q203 composition
    * in stream form: each arriving query vector is (1) assigned to its
    * nearest FROZEN centroid by the batch argmin contract
    * ([[withFrozenCell]] — the plan-captured literal, map-only),
    * (2) joined stream-static on `cell` against the pre-assigned
    * corpus, so its candidates are exactly its probed inverted list
    * (nprobe = 1, the latency-serving shape; more probes = union more
    * cells on the static side), and (3) diversified in-group: cosine
    * shortlist (top-`shortlist` by 1e-6-rounded rel, id tiebreak),
    * then q203's greedy λ = 0.5 MMR fold over the bounded shortlist.
    * Stateless (NoTimeout, state never set): each query is served in
    * its arrival batch; re-sent queries re-serve identically against
    * the frozen index.
    *
    * Scale: nothing corpus-sized enters the stream side — the static
    * join prunes to the probed cells of the batch's queries; the
    * in-group work is O(cell size) to score + O(shortlist²) to
    * diversify, both index-bounded. The rounding discipline (round-6
    * before every decision, id tiebreaks) is q203's, so a fixture
    * replay of the batch algorithm matches bit-for-bit (spec). */
  def ivfMmrServeStream(
      queries: DataFrame,   // stream: (qid bigint, v array<double>)
      centroids: DataFrame, // frozen: (cid, cv, cc)
      corpus: DataFrame,    // static pre-assigned: (vec_id, v, cell)
      k: Int = 5, shortlist: Int = 20): Dataset[MmrHit] = {
    val s = queries.sparkSession
    import s.implicits._
    val assigned = withFrozenCell(
        queries.select(col("qid").as("vec_id"), col("v")), centroids)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
    val cand = assigned.join(
        corpus.select(col("vec_id").as("cid2"), col("v").as("cv2"), col("cell")),
        Seq("cell"))
      .filter(col("qid") =!= col("cid2"))
      .select(col("qid"), col("qv"), col("cid2"), col("cv2"))
      .as[(Long, Seq[Double], Long, Seq[Double])]
    cand.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[(Long, Seq[Double], Long, Seq[Double])],
         state: GroupState[Boolean]) =>
          mmrFold(qid, rows.toVector, k, shortlist).iterator)
  }

  /** The in-group MMR fold shared by [[ivfMmrServeStream]] and
    * [[ragPackServeStream]] — q203's greedy contract verbatim (cosine
    * shortlist by 1e-6-rounded rel with id tiebreak, then λ = 0.5
    * greedy rounds, round-before-decide at every step). One body so
    * the plain serve and the packing serve cannot drift. */
  private def mmrFold(qid: Long,
                      cs: Vector[(Long, Seq[Double], Long, Seq[Double])],
                      k: Int, shortlist: Int): Vector[MmrHit] = {
    if (cs.isEmpty) Vector.empty
    else {
      val qv = cs.head._2.toArray
      val nq = math.sqrt(dot(qv, qv))
      val scored = cs.map { case (_, _, id, cv0) =>
        val cv = cv0.toArray
        (id, cv, r6(dot(qv, cv) / (nq * math.sqrt(dot(cv, cv)))))
      }.sortBy { case (id, _, rel) => (-rel, id) }.take(shortlist)
      val rel = scored.map(c => c._1 -> c._3).toMap
      val vecs = scored.map(c => c._1 -> c._2).toMap
      def cos(a: Array[Double], b: Array[Double]) =
        r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      var selected = Vector.empty[MmrHit]
      var remaining = rel.keySet
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val cand2 = remaining.toSeq.map { c =>
          val ms = if (selected.isEmpty) 0.0
                   else selected.map(sl => cos(vecs(c), vecs(sl.vec_id))).max
          (c, r6(0.5 * rel(c) - 0.5 * ms))
        }
        val (bc, bm) = cand2.minBy { case (c, m) => (-m, c) }
        selected :+= MmrHit(qid, rank, bc, rel(bc), bm)
        remaining -= bc
        rank += 1
      }
      selected
    }
  }

  final case class MediaDupStatus(media_id: Long, phash: Long,
                                  status: String, matched_id: Long)

  /** Streaming media-dedup ingest — the MULTIMODAL twin of the
    * incremental text dedup (q171 / the ingest deltas family): new
    * media blobs arrive as a stream, are fingerprinted IN-STREAM by
    * the REAL codec ([[graft.multimodal.Multimodal.dHash64]]'s
    * partition-batch map runs unchanged on a streaming Dataset), and
    * classified against a FROZEN perceptual-hash index by the
    * q61/q195 half-band discipline (pigeonhole-exact for hamming ≤ 1,
    * popcount verify). Per arrival:
    *  - `dup_corpus_exact` — hamming 0 against a frozen rep,
    *  - `dup_corpus_near`  — hamming 1 (the re-encode-alike class),
    *  - `dup_batch`        — exact within-batch dup of a smaller-id
    *                         arrival (q171's batch-first contract),
    *  - `kept`             — novel fingerprint.
    * ONE stateful op: rows are grouped by PHASH after the
    * stream-static band join, so the within-batch exact layer and the
    * corpus verdict ride the same group fold. Within-batch NEAR pairs
    * are deliberately out of contract (they need cross-group work;
    * the q197 compaction layer owns them offline). Stateless
    * (NoTimeout): replays classify identically against the frozen
    * index.
    *
    * Scale: the static side is the COLLAPSED index (2 band rows per
    * distinct corpus hash — q197's layering applied to serving);
    * the stream side shuffles 8 bytes + 2 band rows per arrival;
    * blob bytes never leave the fingerprint map. */
  def mediaDupIngestStream(media: DataFrame,
                           corpusHashes: DataFrame): Dataset[MediaDupStatus] = {
    val s = media.sparkSession
    import s.implicits._
    val reps = corpusHashes.groupBy(col("phash"))
      .agg(min(col("media_id")).as("rep_id"))
    val repBands = reps.selectExpr("rep_id", "phash AS rep_phash",
        graft.operators.Dedup.halfBandsSql("phash"))
      .localCheckpoint(true) // frozen: O(distinct hashes) × 2 rows
    val hashed = graft.multimodal.Multimodal.dHash64(media)
      .toDF("media_id", "phash")
    val banded = hashed.selectExpr("media_id", "phash",
      graft.operators.Dedup.halfBandsSql("phash"))
    val joined = banded.join(repBands, Seq("band", "half"), "left")
      .select(col("phash"), col("media_id"), col("rep_id"),
        expr("CAST(bit_count(phash ^ rep_phash) AS INT)").as("hamming"))
      .as[(Long, Long, Option[Long], Option[Int])]
    joined.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (ph: Long, rows: Iterator[(Long, Long, Option[Long], Option[Int])],
         state: GroupState[Boolean]) => {
          val rs = rows.toVector
          val items = rs.map(_._2).distinct.sorted
          val best = rs.collect { case (_, _, Some(rid), Some(h)) if h <= 1 => (h, rid) }
            .sorted.headOption
          val keeper = items.head
          val keeperRow = best match {
            case Some((0, rid)) => MediaDupStatus(keeper, ph, "dup_corpus_exact", rid)
            case Some((_, rid)) => MediaDupStatus(keeper, ph, "dup_corpus_near", rid)
            case None           => MediaDupStatus(keeper, ph, "kept", -1L)
          }
          (keeperRow +: items.tail.map(id =>
            MediaDupStatus(id, ph, "dup_batch", keeper))).iterator
        })
  }

  final case class PackedHit(qid: Long, sel_rank: Int, vec_id: Long,
                             rel: Double, mmr: Double, n_tokens: Long,
                             cum_tokens: Long)

  /** Streaming RAG serve with diversity AND context packing — the
    * stream twin of q216's tail stages against a frozen vector index:
    * [[ivfMmrServeStream]]'s per-query flow (frozen-centroid argmin →
    * cell-restricted stream-static candidates → the SHARED [[mmrFold]]
    * greedy), then q211/q216's greedy-by-rank token-budget walk over
    * the selection order (skip-on-overflow: a later small doc can use
    * slack a big one couldn't), emitting ONLY the admitted context
    * rows with the running token total. The corpus side carries its
    * token counts as a static column, so packing adds NO join — the
    * budget fold runs in-group on the ≤ k selected rows. Stateless
    * (NoTimeout, state never set): each query is served in its
    * arrival batch; re-sent queries re-serve identically against the
    * frozen index.
    *
    * Scale: identical to [[ivfMmrServeStream]] (nothing corpus-sized
    * enters the stream side; the static join prunes to the probed
    * cells of the batch's queries) plus 8 bytes/row for the token
    * column. */
  def ragPackServeStream(
      queries: DataFrame,   // stream: (qid bigint, v array<double>)
      centroids: DataFrame, // frozen: (cid, cv, cc)
      corpus: DataFrame,    // static pre-assigned: (vec_id, v, cell, n_tokens)
      k: Int = 5, shortlist: Int = 20, budget: Long = 100L): Dataset[PackedHit] = {
    val s = queries.sparkSession
    import s.implicits._
    val assigned = withFrozenCell(
        queries.select(col("qid").as("vec_id"), col("v")), centroids)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
    val cand = assigned.join(
        corpus.select(col("vec_id").as("cid2"), col("v").as("cv2"),
          col("cell"), col("n_tokens")),
        Seq("cell"))
      .filter(col("qid") =!= col("cid2"))
      .select(col("qid"), col("qv"), col("cid2"), col("cv2"), col("n_tokens"))
      .as[(Long, Seq[Double], Long, Seq[Double], Long)]
    cand.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[(Long, Seq[Double], Long, Seq[Double], Long)],
         state: GroupState[Boolean]) => {
          val cs = rows.toVector
          val nt = cs.map(t => t._3 -> t._5).toMap
          val sel = mmrFold(qid, cs.map(t => (t._1, t._2, t._3, t._4)), k, shortlist)
          var acc = 0L
          sel.flatMap { h =>
            val n = nt(h.vec_id)
            if (acc + n <= budget) {
              acc += n
              Some(PackedHit(qid, h.sel_rank, h.vec_id, h.rel, h.mmr, n, acc))
            } else None
          }.iterator
        })
  }

  final case class NbScore(doc_id: Long, score: Double, quality_pass: Boolean)

  /** Streaming model-based quality filter — q221's streaming twin and
    * the production shape of the CCNet/fastText-class stage: the NB
    * model trains OFFLINE (q221's fit over the held split) and the
    * INGEST STREAM is scored against the frozen artifacts map-only.
    * The 256-bucket weight table is materialized at plan time from
    * the (model, consts) frames ([[graft.operators.TextAnalysis
    * .nbModelConsts]]'s output) with q221's exact arithmetic —
    * Laplace-smoothed rates, the log-free symmetric vote
    * (r_g−r_b)/(r_g+r_b) rounded 1e-6 — and each arriving doc is
    * tokenized, bucket-hashed (md5 first 2 hex digits — the same
    * bytes Spark's md5 produces, so batch and stream bucket
    * identically) and scored by the tf-weighted DECIMAL-exact mean of
    * its bucket votes. Emits (doc_id, score, quality_pass) with
    * pass = score > the caller's FITTED threshold (q221 publishes one
    * per α). Stateless append; token-less docs emit nothing (q221's
    * empty-doc guard). */
  def nbQualityFilterStream(
      docs: DataFrame,     // stream: (doc_id bigint, text string)
      model: DataFrame,    // frozen: (b int, cg bigint, cb bigint) — ≤256 rows
      consts: DataFrame,   // frozen 1-row: (ng bigint, nb bigint)
      alpha: Int,
      threshold: Double): Dataset[NbScore] = {
    val s = docs.sparkSession
    import s.implicits._
    val mrows = model.select(col("b"), col("cg"), col("cb"))
      .limit(257).collect()
    require(mrows.length <= 256, "NB model must be the 256-bucket table")
    require(mrows.nonEmpty, "empty NB model")
    val crow = consts.select(col("ng"), col("nb")).collect()
    require(crow.length == 1, "NB consts must be exactly one row")
    val (ng, nbTot) = (crow(0).getLong(0), crow(0).getLong(1))
    val cgb = mrows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cbb = mrows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    val w: Array[Double] = Array.tabulate(256) { b =>
      val rg = (cgb.getOrElse(b, 0L) + alpha).toDouble / (ng + 256L * alpha)
      val rb = (cbb.getOrElse(b, 0L) + alpha).toDouble / (nbTot + 256L * alpha)
      r6((rg - rb) / (rg + rb))
    }
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def bucket(tok: String): Int = {
          md.reset()
          java.lang.Integer.parseInt(
            md.digest(tok.getBytes("UTF-8")).take(1)
              .map("%02x".format(_)).mkString, 16)
        }
        it.flatMap { case (id, text) =>
          val toks =
            if (text == null) Array.empty[String]
            // Locale.ROOT: Spark's lower() is locale-independent; a
            // default-locale toLowerCase breaks batch/stream parity on
            // e.g. Turkish-locale JVMs ('I' → 'ı' changes bucket hashes)
            else text.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty)
          if (toks.isEmpty) None
          else {
            // per-BUCKET totals first, then one decimal cast per
            // bucket — q221's exact summation shape (a per-token cast
            // would drift in the last ulp)
            val tf = toks.groupBy(bucket).view.mapValues(_.length.toLong)
            val num = tf.map { case (b, n) =>
              BigDecimal(w(b) * n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            }.reduce(_ + _)
            val score = r6(num.toDouble / toks.length)
            Some(NbScore(id, score, score > threshold))
          }
        }
      }
  }

  final case class NswHit(qid: Long, rank: Int, vec_id: Long, cosine: Double)

  /** Streaming graph-ANN serve — the streaming twin of q219's beam
    * search against the FROZEN graph artifacts (edges + per-cell
    * medoid anchors + routing centroids, the batch builder's output):
    * each arriving query descends the routing layer (nearest-2 cells,
    * the batch d2 contract), seeds the beam with those cells' anchors,
    * runs the SAME expand-once beam ([[graft.operators.Similarity.nswBeam]]:
    * `rounds` rounds × beam best unexpanded, adjacency-bounded) and
    * emits its top-`k`
    * (qid, rank, vec_id, cosine) — stateless append, map-only: no
    * state store, no per-trigger shuffle; replays serve identically
    * (freezing is structural — the artifacts are captured before the
    * stream starts).
    *
    * The artifacts are collected ONCE at plan time (guarded) and
    * ride an EXPLICIT broadcast — the v1Bloom discipline: a graph in
    * a UDF closure would re-deserialize per task. All arithmetic is
    * the batch q219 contract verbatim (sequential-fold dot, 1e-6
    * HALF_UP round before every decision, id tiebreaks, self
    * excluded by qid at entry and expansion) so a query served here
    * is served bit-identically by the batch path.
    *
    * Scale: nodes·(dims+deg) ≈ 10 MB per 10⁵ nodes — broadcastable
    * for the rep-scale graphs this family serves (the q217 lesson:
    * index the DEDUPED rep space); beyond `maxNodes` shard the graph
    * and fan out per-shard serves (each round is then a stream-static
    * equi-join on src, re-introducing the per-trigger shuffle this
    * form exists to avoid). */
  def nswServeStream(
      queries: DataFrame,   // stream: (qid bigint, v array<double>)
      corpus: DataFrame,    // static (vec_id, v) — the indexed nodes
      centroids: DataFrame, // frozen (cid, cv, cc)
      edges: DataFrame,     // frozen (src, dst) — degree-capped
      anchors: DataFrame,   // frozen (cell, cid)
      k: Int = 5, beam: Int = 8, rounds: Int = 6,
      maxNodes: Int = 1 << 17): Dataset[NswHit] = {
    val s = queries.sparkSession
    import s.implicits._
    val nodeRows = corpus.select(col("vec_id"), col("v"))
      .limit(maxNodes + 1).collect()
    require(nodeRows.length <= maxNodes,
      s"graph corpus exceeds $maxNodes nodes — shard the graph and fan " +
        "out per-shard serves for indexes this large")
    require(nodeRows.nonEmpty, "empty graph corpus")
    val nodes: Map[Long, (Array[Double], Double)] = nodeRows.map { r =>
      val v = r.getSeq[Double](1).toArray
      r.getLong(0) -> ((v, math.sqrt(dot(v, v))))
    }.toMap
    val adj: Map[Long, Array[Long]] = edges.select(col("src"), col("dst"))
      .collect().groupBy(_.getLong(0))
      .map { case (src, rs) => src -> rs.map(_.getLong(1)).sorted }
    val cents: Array[(Long, Array[Double], Double)] =
      centroids.select(col("cid"), col("cv"), col("cc")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val anchorByCell: Map[Long, Array[Long]] =
      anchors.select(col("cell"), col("cid")).collect()
        .groupBy(_.getLong(0))
        .map { case (c, rs) => c -> rs.map(_.getLong(1)).sorted }
    val bc = s.sparkContext.broadcast((nodes, adj, cents, anchorByCell))
    queries.select(col("qid"), col("v")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (nds, ad, cs, anc) = bc.value
        it.flatMap { case (qid, qv0) =>
          val qv = qv0.toArray
          val vv = dot(qv, qv)
          val top2 = cs.map { case (cid, cv, cc) =>
            (r6(vv - 2.0 * dot(qv, cv) + cc), cid)
          }.sorted.take(2).map(_._2)
          // the stream's entry rule: the two cells' anchors, minus the
          // query itself
          val entries = top2.flatMap(c => anc.getOrElse(c, Array.empty[Long]))
            .filter(_ != qid).distinct.toSeq
          graft.operators.Similarity.nswBeam(qid, qv, math.sqrt(vv), entries, nds, ad, beam, rounds)
            .map { case (id, c, _) => (id, c) }
            .sortWith(graft.operators.Similarity.cosrDescIdAsc).take(k)
            .zipWithIndex.map { case ((id, c), i) => NswHit(qid, i + 1, id, c) }
        }
      }
  }
}
