package graft

/** Benchmark main: runs every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query and
  * total wall seconds.
  *
  * Each query is fully materialized through the `noop` sink — unlike
  * `count()`, this computes every output column (count() lets Catalyst
  * prune the projection away, which would under-report).
  *
  * Measurement protocol: one global warmup query first (JVM,
  * classloader, codegen and parquet-footer caches), then every query
  * runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and reports the
  * MEDIAN — a single-shot timing on a shared sandbox is dominated by
  * contention noise (a GC pause or page-cache miss shows up as a 5×
  * outlier), and median-of-3 keeps one bad rep from polluting the
  * round-over-round diff. `queries` carries the medians; `queries_min`
  * carries best-of-reps so regression tracking can separate plan
  * regressions (min moves) from environment noise (only median moves).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // shuffle partitions default to the core count (the driver-bench
    // contract at sf0.1); scale probes on 10x/100x corpora override
    // via SPARK_GRAFT_SHUFFLE_PARTITIONS, exactly as a real deployment
    // scales partition count with data volume.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Sessions.builder(s"local[$cpus]", shufflePartitions)
      // mergeable-sketch partials (q142's bloom) legitimately exceed
      // the 1g default ONLY on the 100x scale probes, which also raise
      // SPARK_DRIVER_MEM — so the default rail is DERIVED from the
      // heap (half of SPARK_DRIVER_MEM: 4g under the default 8g heap,
      // 24g under a 48g scale-probe heap) rather than a fixed constant
      // a raised-heap run would still trip. An accidental corpus-sized
      // collect fails cleanly at the result-size rail instead of as a
      // driver OOM; SPARK_GRAFT_MAXRESULT overrides explicitly.
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAXRESULT", {
          val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
          val m = "^(\\d+)([gGmM])$".r
          heap match {
            case m(n, u) if u.toLowerCase == "g" => s"${math.max(1, n.toLong / 2)}g"
            case m(n, u) if u.toLowerCase == "m" => s"${math.max(512, n.toLong / 2)}m"
            case _ => "4g"
          }
        }))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Decode-bound media queries pay a REAL codec decode of their full
    // media corpus EVERY rep (q199 alone = 640k JPEG frame decodes per
    // rep at sf0.1) — a linear decode term, not a plan property:
    // variance there is host IO, never shape. They run at most 2 reps:
    // the regression gate compares MINS, which 2 reps establish as
    // well as 3, and the full bench saves one whole decode sweep per
    // query. Gate semantics unchanged (median-of-2 = mean; min = min).
    val decodeBound = Set("q198_audio_envelope_dedup",
      "q199_video_temporal_dedup", "q200_video_clip_containment")

    // SessionMemo-backed families (components, the √n-IVF index, the
    // PQ/residual codebooks, the media-IVF corpora) pay their shared
    // build/train/decode ONCE per session — the production shape:
    // index build is offline, the serve is the query. Their rep-1
    // timing is therefore a different quantity (first-touch) from
    // reps 2+ (steady-state serve). The published median for these
    // names is computed over reps 2+ and rep 1 ships separately under
    // "first_touch" so round-over-round median diffs compare like
    // with like. The regression gate is UNAFFECTED: it compares MINS,
    // and the min is taken over ALL reps.
    val memoFamilies = Set(
      "q66_dup_components", "q124_semdedup", "q137_ann_recall",
      "q168_ivf_sqrtn_recall", "q178_ivf_cell_balance",
      "q179_pq_adc_recall", "q185_ivfpq_recall",
      "q186_ivfpq_residual_recall", "q187_ivfpq_shortlist_budget",
      "q189_ivf_incremental_ingest", "q190_ivfpq_bits_budget",
      "q196_ivf_tombstones", "q204_ivf_index_persist",
      "q205_ivf_compaction", "q213_ivf_nlist_budget",
      "q214_compacted_recall", "q215_media_ann_serve",
      "q217_media_layered_serve", "q218_contrastive_mining",
      "q219_nsw_graph_recall", "q220_media_epoch_pipeline",
      "q222_nsw_tombstone_serve", "q223_nsw_ingest",
      "q224_nsw_compacted_recall", "q225_nsw_index_persist")

    /** (median, min, firstTouch, effectiveReps): median over the
      * steady-state reps (all reps, except memo families drop rep 1
      * when reps >= 2), min over ALL reps (the gate's input),
      * firstTouch = rep 1 for memo families else NaN. */
    def measure(name: String): (Double, Double, Double, Int) = {
      // several operators eagerly localCheckpoint bounded frames
      // (docShingleSets, components' edge list, the daily-counts grid);
      // their blocks are reclaimed by ContextCleaner only after a GC,
      // which a 100 GiB mostly-idle heap rarely runs — so 114 queries
      // x reps accumulate dead blocks until later queries pay eviction
      // churn (q48 measured 0.85s alone vs 6.7s late in a full run).
      // Between queries nothing is live EXCEPT the session-memoized
      // shared frames (components, the IVF index, the PQ codebook —
      // SessionMemo): those are checkpoint-backed with TRUNCATED
      // lineage, so unpersisting them is not a recompute, it's
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND for the next family member.
      // Drop every other dead checkpoint block and nudge the GC so
      // every query measures steady-state cost.
      val pinned = graft.operators.SessionMemo.pinnedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!pinned(id)) rdd.unpersist(false) }
      System.gc()
      val nReps = if (decodeBound(name)) math.min(reps, 2) else reps
      val ts = Seq.fill(nReps)(once(name))
      if (ts.exists(_ < 0)) (-1.0, -1.0, Double.NaN, nReps)
      else {
        val splitFirst = memoFamilies(name) && nReps >= 2
        val steady = if (splitFirst) ts.tail else ts
        val sorted = steady.sorted
        val median =
          if (sorted.size % 2 == 1) sorted(sorted.size / 2)
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
        (median, ts.min, if (splitFirst) ts.head else Double.NaN, nReps)
      }
    }

    // warmup: JVM + codegen + parquet footer caches
    once("q01_pricing_summary")

    // Optional comma-separated subset for local profiling runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    // SPARK_GRAFT_BENCH_TIER=smoke — the mid-round iteration tier: the
    // registry is ~200 queries and the full sf0.1 sweep is minutes, so
    // iterating on one operator should not pay the whole gate every
    // time. Smoke = the historically heaviest queries (the ones whose
    // regressions matter) + one sentinel per operator family (so a
    // shared-helper regression still shows somewhere) ∪ any
    // SPARK_GRAFT_BENCH_ONLY names (pull in the queries touched this
    // round). The FULL run (no tier) remains the artifact of record —
    // smoke runs stamp "tier":"smoke" into the JSON so they can never
    // be mistaken for it.
    val smokeSet = Set(
      // heavy set (driver top-10 medians, r9)
      "q160_kcore", "q142_triangles", "q150_longest_repeat",
      "q164_lsh_recall", "q58_training_prep", "q140_pagerank",
      "q166_entity_resolution", "q167_golden_record",
      "q146_fuzzy_pairs", "q66_dup_components",
      // one sentinel per family
      "q01_pricing_summary",         // relational
      "q65_sessionize",              // events
      "q27_minhash_dup_pairs",       // dedup
      "q29_lang_id",                 // text analysis
      "q186_ivfpq_residual_recall",  // ANN / IVF-PQ chain
      "q153_sequence_pack",          // training ops
      "q88_curation_funnel",         // curation
      "q102_equidepth_hist",         // analytics
      "q145_bm25_topk",              // retrieval
      "q152_media_pipeline",         // multimodal
      "q36_schema_infer")            // schema inference
    val tier = sys.env.get("SPARK_GRAFT_BENCH_TIER")
    val names = SparkEntry.registry.map(_.name).filter { n =>
      tier match {
        case Some("smoke") => smokeSet(n) || only.exists(_.contains(n))
        case _             => only.forall(_.contains(n))
      }
    }
    val results = names.map { n =>
      val r = measure(n)
      // stderr progress (stdout stays a single JSON line): makes a
      // hung or pathological query identifiable from a partial log
      System.err.println(f"[bench] $n ${r._1}%.3f s (min ${r._2}%.3f)")
      n -> r
    }
    def jsonMap(f: ((Double, Double, Double, Int)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val qs = jsonMap(_._1)
    val qsMin = jsonMap(_._2)
    // first-touch (memo-family rep 1) and effective-rep overrides
    // (decode-bound tier) — so median consumers can tell when the
    // estimator differs from plain median-of-reps.
    val firstTouchJson = results.collect {
      case (k, (_, _, ft, _)) if !ft.isNaN => "\"" + k + "\":" + ft
    }.mkString("{", ",", "}")
    val repsEffJson = results.collect {
      case (k, (_, _, _, nr)) if nr != reps => "\"" + k + "\":" + nr
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum

    // Round-over-round regression gate: compare this run's per-query
    // MIN against the best value recorded in the latest BENCH_r{N}.json
    // (the driver keeps only a 2000-char output tail, so parse whatever
    // "qname":seconds pairs survive and take the min per name — medians
    // >= mins, so that is the tightest baseline available; queries cut
    // off by the truncation are simply not compared). >30% min-vs-min
    // growth = regression (median-only movement is environment noise,
    // see the measurement protocol above). Emitted at the END of the
    // line so the driver's tail capture always retains it.
    // Newest round file that actually PARSES to a non-empty baseline:
    // a failed round (e.g. r5's rc=1 compile-error tail) contains no
    // "qname":seconds pairs, and comparing against it would silently
    // disable the regression gate for a whole round.
    val prevFiles = Option(new java.io.File(".").listFiles())
      .map(_.map(_.getName).filter(_.matches("BENCH_r\\d+\\.json")).toSeq)
      .getOrElse(Seq.empty)
      .sortBy(n => "\\d+".r.findFirstIn(n).get.toInt).reverse
    def parseBaseline(f: String): Map[String, Double] = {
      val src = scala.io.Source.fromFile(f)
      val raw = try src.mkString finally src.close()
      // MEASUREMENT BUG FIX (r13): the artifact also carries
      // "first_touch" (memo-family rep-1 seconds) and "reps_effective"
      // ("qname":2 — a REP COUNT, not seconds) maps since r12; the
      // whole-file pair scan was folding those into the per-query min,
      // so e.g. q199's baseline became its reps_effective value 2 and
      // every subsequent round read as a >1.3x "regression" no matter
      // how fast it got. Excise both labeled blocks before scanning,
      // and require a DECIMAL POINT in the value (timings are Double
      // toString — always fractional; rep counts are bare ints), which
      // also covers a tail-truncated block whose label was cut off.
      val text = raw.replaceAll(
        "\\\\?\"(?:first_touch|reps_effective)\\\\?\"\\s*:\\s*\\{[^}]*\\}?", "")
      // the driver wrapper stores the bench line as an ESCAPED JSON
      // string (\"name\":1.23), so tolerate an optional backslash
      // before each quote. The negative lookahead rejects scientific
      // notation (r14, ADVICE): a sub-millisecond timing serialized as
      // "8.9E-4" must not parse as an 8.9 s baseline (and a longer
      // mantissa must not be truncated mid-digits).
      val pair = "\\\\?\"(q\\d+[a-z0-9_]*)\\\\?\"\\s*:\\s*([0-9]+\\.[0-9]+)(?![0-9eE])".r
      pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble)
        .toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val (prevFile, baseline) = prevFiles.iterator
      .map(f => (Option(f), parseBaseline(f)))
      .find(_._2.nonEmpty)
      .getOrElse((None, Map.empty[String, Double]))
    // Host-drift normalization: a shared sandbox drifts round-over-
    // round (measured: a uniform 1.29x slowdown across 59 UNTOUCHED
    // queries between two r4 runs of identical code). A plan
    // regression is a query slower than the FLEET moved, so the gate
    // compares each ratio against a median ratio ("drift"), clamped
    // at 1.0 so a faster host never loosens the bar.
    //
    // Drift is estimated over a PINNED SENTINEL set, not all compared
    // queries: the sentinels are long-stable relational/events queries
    // that share no helper with the curation/dedup/text families (no
    // withToks, no shingles, no ppState, no embeddings kernels), so a
    // regression in a widely-shared helper moves the family it feeds
    // but cannot move the sentinels — it can no longer masquerade as
    // host drift and be absorbed into the normalization (the r4 gap:
    // all-queries-median drift was blind to fleet-wide shared-code
    // regressions). Falls back to the all-queries median only when
    // fewer than 5 sentinels were compared (subset profiling runs).
    val sentinels = Set(
      "q01_pricing_summary", "q03_top_orders", "q04_region_revenue",
      "q09_window_lag", "q10_running_sum", "q17_orders_per_month",
      "q20_range_join", "q42_math_fns", "q45_window_analytics",
      "q65_sessionize", "q93_event_funnel", "q94_retention_cohorts")
    def medianRatio(names: ((String, (Double, Double, Double, Int))) => Boolean): Seq[Double] =
      results.collect {
        case r @ (name, (_, mn, _, _)) if names(r) && mn >= 0 && baseline.contains(name) =>
          mn / baseline(name)
      }.sorted
    val sentinelRatios = medianRatio { case (n, _) => sentinels(n) }
    val ratios =
      if (sentinelRatios.size >= 5) sentinelRatios
      else medianRatio(_ => true)
    // ADVISORY ONLY (never gates): the drift sentinels are
    // deliberately LIGHT relational/events queries, so they are blind
    // to the measured per-class host effect where sustained all-core
    // CPU-bound work runs 1.4-2.2x slower in a bad hour while the
    // light fleet reads 1.0 (q27 measured 1.03 -> 2.24 -> 1.65 mins
    // intraday on identical code, round 11). cpu_drift is the median
    // min-ratio over a CPU-heavy pinned set; a flag whose ratio sits
    // at or under cpu_drift is host-hour, not code — evidence for the
    // human adjudicator, NOT an automatic demotion (the cpu set
    // shares helpers with the families it would normalize, so gating
    // on it could mask a real shared-helper regression).
    val cpuSentinels = Set(
      "q27_minhash_dup_pairs", "q88_curation_funnel", "q142_triangles",
      "q150_longest_repeat", "q160_kcore")
    val cpuRatios = medianRatio { case (n, _) => cpuSentinels(n) }
    val cpuDrift =
      if (cpuRatios.isEmpty) 1.0
      else math.max(1.0,
        if (cpuRatios.size % 2 == 1) cpuRatios(cpuRatios.size / 2)
        else (cpuRatios(cpuRatios.size / 2 - 1) + cpuRatios(cpuRatios.size / 2)) / 2.0)
    val drift =
      if (ratios.isEmpty) 1.0
      else math.max(1.0,
        if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0)
    // Relative + absolute: >30% beyond drift AND >0.3 s beyond the
    // drift-adjusted baseline. Sub-second queries bounce 30% run-to-
    // run on a shared box even after drift normalization (measured:
    // two identical-code runs 40 min apart flagged disjoint sets of
    // 0.07-0.28 s deltas); a plan regression that matters at scale
    // either hits a heavy query or adds real seconds.
    val flagged = results.collect {
      case (name, (_, mn, _, _))
        if mn >= 0 && baseline.get(name).exists(b =>
          mn > b * 1.3 * drift && mn - b * drift > 0.3) => name
    }
    // Same-process re-adjudication (two consecutive rounds the gate
    // false-flagged on host noise that the judge then had to hand-
    // adjudicate with a pinned-subset re-measure): re-run ONLY the
    // flagged set once more, each re-check preceded by two sentinel
    // runs so the flagged query re-measures under the same
    // steady-state cache/GC conditions as the sweep, and DEMOTE a
    // flag when the best min seen (sweep or re-run) no longer
    // satisfies the ORIGINAL flag predicate — the same >1.3x-AND-
    // >0.3 s bar the sweep used, so a recheck landing in a band the
    // sweep would never have flagged can't ship as a confirmed
    // regression. A real plan regression reproduces in-process; a
    // load transient does not. Both verdicts ship in the JSON.
    val washers = Seq("q01_pricing_summary", "q20_range_join")
    val recheck = flagged.map { name =>
      washers.foreach(once)
      val (_, mn2, _, _) = measure(name)
      val sweepMin = results.collectFirst { case (`name`, (_, m, _, _)) => m }.get
      val best = if (mn2 >= 0) math.min(mn2, sweepMin) else sweepMin
      val transient = baseline.get(name).exists(b =>
        best <= b * 1.3 * drift || best - b * drift <= 0.3)
      System.err.println(f"[bench] recheck $name: rerun min $mn2%.3f, best $best%.3f -> ${if (transient) "suspect_transient" else "regression"}")
      name -> transient
    }
    val regressions = recheck.collect { case (n, false) => n }
    val transients = recheck.collect { case (n, true) => n }
    val regJson = regressions.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val transientJson = transients.map("\"" + _ + "\"").mkString("[", ",", "]")
    val vsJson = prevFile.map("\"" + _ + "\"").getOrElse("null")
    // Double.toString is locale-independent ('.'), unlike f"%.3f"
    val driftStr = (math.round(drift * 1000) / 1000.0).toString
    val cpuDriftStr = (math.round(cpuDrift * 1000) / 1000.0).toString
    // Truncation-proof emission (the r6 lesson: the driver keeps only
    // an output TAIL, and r6's single giant line lost its header and
    // the first ~110 per-query entries). Two lines, both valid JSON:
    //  1. the full detail line, with queries_min FIRST so truncation
    //     eats best-of-reps before medians;
    //  2. a compact summary line LAST — total, reps, drift, regression
    //     list, failures and the top-10 slowest medians — so ANY tail
    //     capture retains the verdict-grade numbers.
    val tierJson = tier.map(t => s""","tier":"$t"""").getOrElse("")
    val failed = results.collect { case (n, (m, _, _, _)) if m < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val top10 = results.filter(_._2._1 >= 0).sortBy(-_._2._1).take(10)
      .map { case (k, (m, _, _, _)) => "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val detailLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps$tierJson,"queries_min":$qsMin,"queries":$qs,"first_touch":$firstTouchJson,"reps_effective":$repsEffJson,"sf":"$sfDir","regressions_vs":$vsJson,"drift":$driftStr,"cpu_drift":$cpuDriftStr,"flagged":$flaggedJson,"suspect_transient":$transientJson,"regressions":$regJson}"""
    val summaryLine = s"""{"metric":"summary","value":$total,"unit":"sec","reps":$reps$tierJson,"sf":"$sfDir","n_queries":${results.size},"failed":$failed,"drift":$driftStr,"cpu_drift":$cpuDriftStr,"regressions_vs":$vsJson,"flagged":$flaggedJson,"suspect_transient":$transientJson,"regressions":$regJson,"top10_median":$top10}"""
    // Driver-parsable artifact (r14, VERDICT item 2): every PERF round
    // back to r10 recorded "parsed": null because the per-query JSON
    // only existed as sbt-logger-prefixed stdout lines in a truncated
    // tail. Write the SAME two JSON objects verbatim to a plain file
    // in the repo root (full-bench runs only — tiered/subset profiling
    // runs must never masquerade as the artifact of record), so any
    // consumer can read complete per-query medians and mins without
    // parsing a log tail. stdout stays byte-identical in content.
    if (tier.isEmpty && only.isEmpty) {
      val pw = new java.io.PrintWriter("BENCH_SELF.json", "UTF-8")
      try pw.println(s"""{"total":$detailLine,"summary":$summaryLine}""")
      finally pw.close()
    }
    println(detailLine)
    println(summaryLine)
    spark.stop()
  }
}
