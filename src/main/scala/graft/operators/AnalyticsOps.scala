package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-3 continuation operators [EXT]: corpus/event analytics a
  * training-data pipeline runs alongside curation — calendar
  * densification, weighted mixture sampling, lexical-diversity quality
  * signals, cross-source overlap matrices, bloom-filter join
  * reduction, daily anomaly detection, stride chunking into training
  * windows, equi-depth histograms, and exact-integer correlation.
  *
  * Cross-engine determinism (same contract as the rest of the
  * registry): all randomness is md5-derived; every score that feeds an
  * ordering or threshold is either pure integer arithmetic or a SINGLE
  * IEEE double operation chain written identically in both engines
  * (division / multiply / subtract / sqrt are correctly-rounded IEEE
  * ops — bit-identical everywhere — unlike libm's ln/exp/pow, which
  * this file deliberately avoids: Gini–Simpson instead of Shannon
  * entropy, rational u/w instead of u^(1/w)).
  */
object AnalyticsOps {
  import Tables._

  /** The q113 deterministic split assignment (md5 first hex digit,
    * 12/2/2) — single source of truth shared with q172's leakage
    * audit, so an edit to the split rule cannot diverge the assigner
    * from its auditor. */
  private def splitAssignCol: Column = {
    val h = substring(md5(col("doc_id").cast(StringType)), 1, 1)
    when(h.isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b"), "train")
      .when(h.isin("c", "d"), "val")
      .otherwise("test")
  }

  /** The oracle spelling of [[splitAssignCol]]. */
  private val splitAssignSql: String = """
    CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
         ELSE 'test' END"""

  /** (event_type, d, n_events) daily counts on integer epoch days —
    * the shared base frame for q95/q100/q107. Materialized EAGERLY
    * (localCheckpoint, the q66-components pattern) so the calendar
    * bounds, the type list and the count lookup all derive from ONE
    * scan of the raw stream: without it each branch re-plans its own
    * FileScan and the "fact table touched once" invariant is a lie at
    * 100 TB. The frame itself is |types| x |days| rows — metadata. */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .withColumn("d", datediff(to_date($"ts"), to_date(lit("1970-01-01"))))
      .groupBy($"event_type", $"d").agg(count(lit(1)).as("n_events"))
      .localCheckpoint(true)
  }

  /** Oracle twin of [[dailyCounts]] — single source of truth for the
    * daily CTE shared by the q95/q100/q107 oracles. */
  private val dailyCteSql: String =
    """daily AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS d,
         CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2)"""

  /** Dense (event_type, d, n_events) grid between the corpus' min and
    * max day, zero-filled — shared by q95 (published) and q107 (the
    * moving average composed on it), so a densification fix can't
    * silently diverge them. */
  private def denseGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cnt = dailyCounts(s, dir)
    val cal = cnt.agg(min($"d").as("mn"), max($"d").as("mx"))
      .select(explode(sequence($"mn", $"mx")).as("d"))
    cnt.select($"event_type").distinct().crossJoin(broadcast(cal))
      .join(broadcast(cnt), Seq("event_type", "d"), "left")
      .select($"event_type", $"d", coalesce($"n_events", lit(0L)).as("n_events"))
  }

  /** Oracle twin of [[denseGrid]]: `grid(event_type, d, n_events)`. */
  private val gridCteSql: String = s"""$dailyCteSql,
        cal AS (SELECT unnest(range(mn, mx + 1)) AS d
                FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily)),
        grid AS (SELECT t.event_type, cal.d, COALESCE(c.n_events, 0) AS n_events
                 FROM (SELECT DISTINCT event_type FROM daily) t
                 CROSS JOIN cal
                 LEFT JOIN daily c ON c.event_type = t.event_type AND c.d = cal.d)"""

  /** The q111/q112 latest-wins merge — single source of truth for the
    * upsert rule (base = keys ≢0 mod 7, delta = keys ≡0 mod 3 at
    * +1.5 price, merged = delta ∪ base ANTI delta), shared by q111
    * (the published merge) and q112 (the snapshot diffed AGAINST that
    * merge) so an edit to the rule can't silently diverge them. */
  private def upsertMerged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = orders(s, dir)
    val base = o.filter($"o_orderkey" % 7 =!= 0)
    val delta = o.filter($"o_orderkey" % 3 === 0)
      .withColumn("o_totalprice", $"o_totalprice" + lit(1.5))
    delta.unionByName(
      base.join(delta.select($"o_orderkey"), Seq("o_orderkey"), "left_anti"))
  }

  /** Oracle twin of [[upsertMerged]]: `merged(*)` over orders' columns. */
  private val upsertMergedCteSql: String = """
        base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
        delta AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                    o_totalprice + 1.5 AS o_totalprice, o_orderdate, o_orderpriority
                  FROM orders WHERE o_orderkey % 3 = 0),
        merged AS (SELECT * FROM delta
                   UNION ALL
                   SELECT * FROM base
                   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta))"""

  /** The exact SQL-standard ntile(k) fill rule for a global rank
    * column named `r` over a total row count `n`: ranks
    * 1..rem*(qsz+1) land in the first rem buckets (size qsz+1), the
    * rest in size-qsz buckets. Extracted from q102 so the rem > 0
    * branch is property-testable — the driver parquet row counts are
    * all multiples of 10, so the gate alone never exercises it
    * (AnalyticsOpsSpec pins it against Spark's own ntile for many n,
    * including n < k and n % k != 0). */
  private[graft] def ntileBucketSql(n: Long, k: Int): String = {
    val (qsz, rem) = (n / k, n % k)
    s"""CAST(CASE WHEN r <= ${rem * (qsz + 1)}
         THEN (r - 1) div ${qsz + 1} + 1
         ELSE $rem + (r - 1 - ${rem * (qsz + 1)}) div ${qsz.max(1)} + 1
       END AS INT)"""
  }

  def queries: Vector[Q] = Vector(
    // ---- calendar densification (gap fill) ---------------------------
    // Zero-fill missing (event_type, day) cells between the corpus'
    // min and max day — the densification step before any time-series
    // model or day-over-day diff (a LEFT JOIN against a generated
    // calendar, not a window trick that can't see absent rows).
    // Scale: the raw stream is touched ONCE by the counting aggregate;
    // the calendar grid is |types| x |days| rows — metadata-sized no
    // matter how big the stream — so the grid join is a broadcast.
    // Day arithmetic is integer epoch-days in both engines (no tz, no
    // interval semantics to disagree on).
    Q("q95_gap_fill",
      (s, dir) => {
        import s.implicits._
        denseGrid(s, dir)
          .select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("day"),
            $"n_events")
          .orderBy($"event_type", $"day")
      },
      Some(s"""
        WITH $gridCteSql
        SELECT event_type, DATE '1970-01-01' + CAST(d AS INT) AS day, n_events
        FROM grid ORDER BY event_type, day""")),

    // ---- weighted mixture sampling -----------------------------------
    // Deterministic weighted sampling: per source, take the 5 docs with
    // the smallest u/w where u is a 32-bit md5 draw and w = n_chars+1 —
    // the rational-score cousin of Efraimidis–Spirakis A-Res (whose
    // u^(1/w) key needs pow/ln; u/w preserves the weight-biased-order
    // idea with ONE IEEE division, bit-identical cross-engine — same
    // libm-avoidance trade as q82's rational idf). Bigger docs are
    // proportionally likelier to be drawn first, draws are reproducible
    // run-to-run and engine-to-engine. Scale: map-only scoring + a
    // per-source top-k window (WindowGroupLimit in Spark 4 — no full
    // sort, each partition keeps 5 rows).
    Q("q96_weighted_sample",
      (s, dir) => {
        import s.implicits._
        val scored = documents(s, dir)
          .withColumn("u", conv(substring(md5($"doc_id".cast(StringType)), 1, 8), 16, 10).cast(LongType))
          .withColumn("weight", ($"n_chars" + lit(1)).cast(LongType))
          .withColumn("score", round($"u".cast(DoubleType) / $"weight", 6))
        val w = Window.partitionBy($"source").orderBy($"score", $"doc_id")
        scored.withColumn("pick_rank", row_number().over(w))
          .filter($"pick_rank" <= 5)
          .select($"source", $"pick_rank", $"doc_id", $"weight", $"score")
          .orderBy($"source", $"pick_rank")
      },
      Some("""
        WITH scored AS (SELECT doc_id, source,
            CAST(n_chars + 1 AS BIGINT) AS weight,
            ROUND(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
                  / (n_chars + 1), 6) AS score
          FROM documents),
        rk AS (SELECT source, doc_id, weight, score,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS pick_rank
          FROM scored)
        SELECT source, CAST(pick_rank AS INT) AS pick_rank, doc_id, weight, score
        FROM rk WHERE pick_rank <= 5 ORDER BY source, pick_rank""")),

    // ---- lexical diversity (Gini–Simpson) ----------------------------
    // Per-doc vocabulary-diversity quality signal: 1 - sum(p_i^2) over
    // token frequencies — the Gini–Simpson index, the entropy-family
    // diversity measure that needs NO logarithm: (n^2 - sum(tf^2))/n^2
    // is exact BIGINT arithmetic up to one IEEE division, so the score
    // is bit-reproducible cross-engine where Shannon entropy's ln
    // would drift. Low diversity = repetitive/boilerplate doc (the
    // same family of signals as q69's repetition ratios). Every doc
    // gets a row (token-less docs score 0.0 — the q81 completeness
    // rule: a quality join against the corpus must never lose rows).
    // Scale: one doc-keyed aggregate over the exploded token stream.
    Q("q97_lexical_diversity",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val tf = Dedup.withToks(docs)
          .select($"doc_id", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val agg = tf.groupBy($"doc_id")
          .agg(sum($"tf").as("n_tok"),
            count(lit(1)).as("n_distinct"),
            sum($"tf" * $"tf").as("s2"))
        docs.select($"doc_id")
          .join(agg, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_tok", lit(0L)).as("n_tok"),
            coalesce($"n_distinct", lit(0L)).as("n_distinct"),
            when($"n_tok".isNull, lit(0.0)).otherwise(
              round(($"n_tok" * $"n_tok" - $"s2").cast(DoubleType)
                    / ($"n_tok" * $"n_tok"), 6)).as("diversity"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u
               WHERE len(tok) > 0 GROUP BY doc_id, tok),
        agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  CAST(SUM(tf * tf) AS BIGINT) AS s2
                FROM tf GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(a.n_tok, 0) AS n_tok,
          COALESCE(a.n_distinct, 0) AS n_distinct,
          CASE WHEN a.n_tok IS NULL THEN 0.0
               ELSE ROUND(CAST(a.n_tok * a.n_tok - a.s2 AS DOUBLE)
                          / (a.n_tok * a.n_tok), 6) END AS diversity
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id""")),

    // ---- cross-source overlap matrix ---------------------------------
    // Pairwise shingle-Jaccard between SOURCES (the dataset-card
    // "how much do my mixture components overlap" table): distinct
    // 3-gram sets per source, intersections from an inverted index on
    // the gram, Jaccard = inter / (|A| + |B| - inter). ALL pairs get a
    // row BY CONSTRUCTION: the pair grid is derived from DOCUMENTS
    // (not from the gram index, whose sources vanish when every doc is
    // shorter than a 3-gram — r3 advice), sizes COALESCE to 0 and
    // Jaccard is defined 0 on an empty union, so even all-short
    // sources appear. Scale: the gram->source index is deduped FIRST,
    // so per-gram fan-out is bounded by #sources (pairs per gram <=
    // C(k,2) for k sources, k small by construction) — never
    // doc x doc; the final matrix is k^2 rows, metadata-sized.
    Q("q98_source_overlap",
      (s, dir) => {
        import s.implicits._
        // one materialization for the three consumers (sizes + both
        // sides of the inverted-index join) — the docShingleSets
        // pattern; without it the explode + distinct exchange runs 3x.
        // r14 (guide §2.6): the tokenize+3-gram explode ran ~2 core-s
        // SERIALLY off the single-row-group scan; spread the docs
        // first (the q150 discipline — the distinct's exchange
        // follows regardless)
        val sg = Dedup.withToks(documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
          .select($"source", explode(expr(Dedup.gramArraySql(3))).as("g"))
          .distinct()
          .localCheckpoint(true)
        val sizes = sg.groupBy($"source").agg(count(lit(1)).as("n"))
        val inter = sg.as("a").join(sg.as("b"),
            $"a.g" === $"b.g" && $"a.source" < $"b.source")
          .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
          .agg(count(lit(1)).as("inter"))
        val srcs = documents(s, dir).select($"source").distinct()
        val uni = $"n_a" + $"n_b" - coalesce($"inter", lit(0L))
        srcs.as("x").join(srcs.as("y"), $"x.source" < $"y.source")
          .select($"x.source".as("src_a"), $"y.source".as("src_b"))
          .join(inter, Seq("src_a", "src_b"), "left")
          .join(broadcast(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n", "n_a")), Seq("src_a"), "left")
          .join(broadcast(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n", "n_b")), Seq("src_b"), "left")
          .withColumn("n_a", coalesce($"n_a", lit(0L)))
          .withColumn("n_b", coalesce($"n_b", lit(0L)))
          .select($"src_a", $"src_b", $"n_a", $"n_b",
            coalesce($"inter", lit(0L)).as("inter"),
            when(uni === 0L, lit(0.0))
              .otherwise(round(coalesce($"inter", lit(0L)).cast(DoubleType) / uni, 6))
              .as("jaccard"))
          .orderBy($"src_a", $"src_b")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        sg AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
               FROM toksc, UNNEST(range(1, len(w) - 1)) AS t(i)),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY source),
        inter AS (SELECT a.source AS src_a, b.source AS src_b,
                    CAST(COUNT(*) AS BIGINT) AS inter
                  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
                  GROUP BY 1, 2),
        srcs AS (SELECT DISTINCT source FROM documents)
        SELECT x.source AS src_a, y.source AS src_b,
          COALESCE(sx.n, 0) AS n_a, COALESCE(sy.n, 0) AS n_b,
          COALESCE(i.inter, 0) AS inter,
          CASE WHEN COALESCE(sx.n, 0) + COALESCE(sy.n, 0) - COALESCE(i.inter, 0) = 0
               THEN 0.0
               ELSE ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
                / (COALESCE(sx.n, 0) + COALESCE(sy.n, 0) - COALESCE(i.inter, 0)), 6) END AS jaccard
        FROM srcs x JOIN srcs y ON x.source < y.source
        LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source
        LEFT JOIN sizes sx ON sx.source = x.source
        LEFT JOIN sizes sy ON sy.source = y.source
        ORDER BY src_a, src_b""")),

    // ---- bloom-filter join reduction ---------------------------------
    // Semi-join reduction with a bloom filter: build a tiny bloom over
    // the filtered dim's keys, pre-filter the FACT side before the
    // exact join. The join output is IDENTICAL to the plain join (the
    // exact join removes bloom false positives), so the oracle is the
    // plain SQL join — what the bloom buys at 100 TB is shuffle volume:
    // a selective dim predicate means most fact rows exchange-then-drop
    // in a plain shuffle join; the bloom (a few KB broadcast regardless
    // of dim size — it keeps working after the dim outgrows a broadcast
    // HASH join) drops them at the scan. The membership probe is a UDF
    // because Spark doesn't expose BloomFilterMightContain as a public
    // Column function — one non-codegen boundary, amortized by the
    // shuffle it removes.
    Q("q99_bloom_join",
      (s, dir) => {
        import s.implicits._
        val cust = customer(s, dir).filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey", $"c_mktsegment")
        // Scale.v1Bloom, not stat.bloomFilter: the built-in default
        // (BloomFilterImplV2 + down-rounded bits) measures ~48x the
        // requested fp rate, which silently erodes exactly the
        // shuffle-volume saving this query exists to demonstrate
        // (SCALE_DESIGN rule 6).
        val bf = Scale.v1Bloom(
          cust.select($"c_custkey".cast(LongType).as("k")), "k", 100000L, 0.03)
        val bcBf = s.sparkContext.broadcast(bf)
        val mightContain = udf((k: Long) => bcBf.value.mightContain(k))
        orders(s, dir)
          .filter(mightContain($"o_custkey"))
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice", 4).as("revenue"))
          .orderBy($"c_mktsegment")
      },
      Some(s"""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          ${dsumSql("o_totalprice", 4)} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- daily anomaly detection -------------------------------------
    // Days where an event type's volume exceeds its own mean by more
    // than 2 sigma — the monitoring query every ingestion pipeline runs
    // on its daily partition counts. Determinism: per-type sums are
    // exact BIGINTs and sums-of-squares exact DECIMAL(38,0) — the
    // per-row square is (19,0)x(19,0), so no int64 value can wrap it,
    // and the group sum holds every corpus below 1e38 (r3 advice:
    // int64 squares overflow SILENTLY in Spark's non-ANSI mode at
    // exactly the scale this query targets). mean/variance/sigma are
    // then a fixed chain of IEEE ops (division, multiply, subtract,
    // sqrt — all correctly rounded, so both engines produce the same
    // bits and the >2-sigma threshold can't flip). sigma>0 is implied
    // for every flagged row (n > mean requires variance > 0), so the
    // z-score division is safe. Scale: one aggregate to daily counts
    // (tiny), then a broadcast join of per-type stats back onto them.
    Q("q100_daily_anomalies",
      (s, dir) => {
        import s.implicits._
        val daily = dailyCounts(s, dir)
        val stats = daily.groupBy($"event_type")
          .agg(count(lit(1)).as("days"), sum($"n_events").as("sn"),
            sum($"n_events".cast(DecimalType(19, 0))
              * $"n_events".cast(DecimalType(19, 0))).as("s2"))
          .withColumn("mean", $"sn".cast(DoubleType) / $"days")
          .withColumn("variance", $"s2".cast(DoubleType) / $"days" - $"mean" * $"mean")
          .withColumn("sigma", sqrt(when($"variance" < 0, lit(0.0)).otherwise($"variance")))
        daily.join(broadcast(stats), Seq("event_type"))
          .filter($"n_events" > $"mean" + lit(2.0) * $"sigma")
          .select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("day"),
            $"n_events",
            round(($"n_events" - $"mean") / $"sigma", 6).as("zscore"))
          .orderBy($"event_type", $"day")
      },
      Some(s"""
        WITH $dailyCteSql,
        st0 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days,
                  CAST(SUM(n_events) AS BIGINT) AS sn,
                  SUM(CAST(n_events AS DECIMAL(19,0)) * CAST(n_events AS DECIMAL(19,0))) AS s2
                FROM daily GROUP BY event_type),
        st1 AS (SELECT event_type, CAST(sn AS DOUBLE) / days AS mean,
                  CAST(s2 AS DOUBLE) / days - (CAST(sn AS DOUBLE) / days) * (CAST(sn AS DOUBLE) / days) AS variance
                FROM st0),
        st AS (SELECT event_type, mean,
                 sqrt(CASE WHEN variance < 0 THEN 0.0 ELSE variance END) AS sigma
               FROM st1)
        SELECT d.event_type, DATE '1970-01-01' + CAST(d.d AS INT) AS day, d.n_events,
          ROUND((d.n_events - st.mean) / st.sigma, 6) AS zscore
        FROM daily d JOIN st ON d.event_type = st.event_type
        WHERE d.n_events > st.mean + 2.0 * st.sigma
        ORDER BY d.event_type, day""")),

    // ---- stride chunking into training windows -----------------------
    // Cut each doc into fixed-size token windows (32 tokens, stride 24
    // => 8-token overlap) — the pre-tokenization chunking step for
    // context-window training data, where the overlap preserves
    // cross-boundary n-grams. Chunk count and lengths are pure integer
    // arithmetic: 1 + ceil((n-32)/24) tail chunks via (n-9) div 24.
    // Token-less docs have no trainable content and are excluded (the
    // same routing rule as near-dup's sub-3-token docs — exact dedup
    // owns them; pinned by AnalyticsOpsSpec). Scale: map-only explode,
    // output rows ~ n/stride per doc, no shuffle at all before the
    // driver's ORDER BY.
    Q("q101_doc_chunks",
      (s, dir) => {
        import s.implicits._
        Dedup.withToks(documents(s, dir))
          .withColumn("w2", filter($"toks", t => length(t) > 0))
          .withColumn("n", size($"w2"))
          .filter($"n" >= 1)
          .withColumn("nch",
            lit(1) + when($"n" > 32, expr("CAST((n - 9) div 24 AS INT)")).otherwise(lit(0)))
          .select($"doc_id", $"n",
            posexplode(expr(
              // let-bound w2 (the gramArraySql idiom): the per-chunk
              // slice must not re-derive the filtered split
              """transform(array(w2), __tk ->
                   transform(sequence(0, nch - 1), i -> concat_ws(' ', slice(__tk, i * 24 + 1, 32))))[0]""")))
          .select($"doc_id",
            $"pos".cast(IntegerType).as("chunk_id"),
            when($"pos" * 24 + 32 <= $"n", lit(32))
              .otherwise($"n" - $"pos" * 24).cast(IntegerType).as("chunk_ntok"),
            $"col".as("chunk_text"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        t2 AS (SELECT doc_id, list_filter(w, t -> len(t) > 0) AS w2 FROM toksc),
        t3 AS (SELECT doc_id, w2, len(w2) AS n,
                 1 + CASE WHEN len(w2) > 32 THEN (len(w2) - 9) // 24 ELSE 0 END AS nch
               FROM t2 WHERE len(w2) >= 1),
        ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
                 CAST(CASE WHEN i * 24 + 32 <= n THEN 32 ELSE n - i * 24 END AS INT) AS chunk_ntok,
                 array_to_string(list_slice(w2, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
               FROM t3, UNNEST(range(0, nch)) AS u(i))
        SELECT doc_id, chunk_id, chunk_ntok, chunk_text
        FROM ch ORDER BY doc_id, chunk_id""")),

    // ---- equi-depth histogram ----------------------------------------
    // 10 equal-population price buckets with EXACT ntile semantics over
    // the TOTAL order (price + key tie-breaks) — but computed with a
    // range-partitioned global rank, never a single-partition window
    // (the naive `ntile(10) OVER (ORDER BY ...)` funnels the whole
    // table into ONE task — the r3 verdict's scale-killer). Shape:
    //   1. approx cutpoints on price split the table into P ranges
    //      (P = spark.sql.shuffle.partitions — config, not data);
    //   2. rows get a DATA-DETERMINISTIC range id from a codegen'd
    //      CASE chain over the literal cutpoints (equal prices share a
    //      range, so (rid, tie-break order) == the global total order —
    //      and both passes below see identical rids, unlike
    //      spark_partition_id() which can diverge across jobs);
    //   3. row_number() windows PER RANGE run in parallel;
    //   4. global rank = per-range offset + local rank, offsets from
    //      the O(P) per-range counts; bucket = the standard ntile
    //      fill rule (first N%10 buckets get one extra row).
    // The only driver-side materializations are the cutpoint array and
    // the per-range counts — both O(P), bounded by config at any data
    // size (the same class as q64's per-round centroids). Skew note:
    // a single price value repeated across a whole range cannot be
    // split further (ties must share a range); pathological constant
    // columns degrade to one task per distinct value, documented in
    // docs/SCALE_DESIGN.md. approx_percentile (q67) remains the
    // one-pass sketch path of this exact/approx pair (like q14/q41).
    Q("q102_equidepth_hist",
      (s, dir) => {
        import s.implicits._
        val li = lineitem(s, dir)
        val nRanges = s.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
        // 1. approximate range cutpoints (accuracy only affects balance,
        //    never correctness); distinct+sorted so the CASE chain is a
        //    proper strictly-increasing search
        val probs = (1 until nRanges).map(_.toDouble / nRanges)
        val cutRow = li.agg(percentile_approx($"l_extendedprice",
          typedLit(probs), lit(10000)).as("c")).head()
        val cuts: Seq[Double] =
          if (cutRow.isNullAt(0)) Seq.empty
          else cutRow.getSeq[Double](0).distinct.sorted
        // 2. rid = index of the first cutpoint >= price (codegen CASE
        //    chain; equal prices always share a rid)
        val rid = cuts.zipWithIndex.foldRight(lit(cuts.size): Column) {
          case ((c, i), rest) => when($"l_extendedprice" <= lit(c), lit(i)).otherwise(rest)
        }
        val withRid = li.withColumn("rid", rid)
        // 3+4. offsets from the O(P) counts, then parallel local ranks
        val cnts = withRid.groupBy($"rid").agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val offsets = new Array[Long](cuts.size + 1)
        var acc = 0L
        for (p <- 0 until (cuts.size + 1)) { offsets(p) = acc; acc += cnts.getOrElse(p, 0L) }
        val n = acc
        val lw = Window.partitionBy($"rid")
          .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        withRid
          .withColumn("r",
            element_at(typedLit(offsets.toSeq), $"rid" + 1) + row_number().over(lw))
          .withColumn("bucket", expr(ntileBucketSql(n, 10)))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            min($"l_extendedprice").as("lo"),
            max($"l_extendedprice").as("hi"),
            dsum($"l_extendedprice", 4).as("price_sum"))
          .orderBy($"bucket")
      },
      Some(s"""
        WITH b AS (SELECT l_extendedprice,
            ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
          FROM lineitem)
        SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
          ${dsumSql("l_extendedprice", 4)} AS price_sum
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ---- exact-sum Pearson correlation --------------------------------
    // Per-language corr(n_chars, token count) — a data-quality sanity
    // check (chars-per-token drift flags tokenizer problems per
    // language). All five sufficient statistics are EXACT sums: the
    // linear ones in BIGINT, the squares/products in DECIMAL(38,0) —
    // the per-row product is (19,0)x(19,0), so no int64 pair can wrap
    // it, and the group sum holds every corpus below 1e38 (r3 advice:
    // the old int64 squares overflow SILENTLY in Spark's non-ANSI mode
    // exactly at the 100 TB scale this narrative targets, while the
    // DuckDB oracle raises — silent cross-engine divergence). The
    // combination (n·sxx − sx², etc.) happens in DOUBLE via one cast
    // per statistic — the identical correctly-rounded IEEE chain in
    // both engines, so the result is still bit-identical cross-engine;
    // variance terms are clamped at 0 (the subtraction can round a
    // true 0 slightly negative) and corr is defined 0 when the
    // denominator is 0 — both guards written identically in both
    // engines. Scale: one doc-keyed map + one small aggregate; the
    // sufficient-statistic form is the standard single-pass
    // distributed corr.
    Q("q103_corr_lang",
      (s, dir) => {
        import s.implicits._
        val dec = DecimalType(19, 0)
        val d = Dedup.withToks(documents(s, dir))
          .select($"lang", $"n_chars".as("x"),
            size(filter($"toks", t => length(t) > 0)).cast(LongType).as("y"))
        val stats = d.groupBy($"lang").agg(
          count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"),
          sum($"y".cast(dec) * $"y".cast(dec)).as("syy"),
          sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"))
        val D = DoubleType
        val vx = $"n".cast(D) * $"sxx".cast(D) - $"sx".cast(D) * $"sx".cast(D)
        val vy = $"n".cast(D) * $"syy".cast(D) - $"sy".cast(D) * $"sy".cast(D)
        val den = sqrt(greatest(vx, lit(0.0))) * sqrt(greatest(vy, lit(0.0)))
        stats.select($"lang", $"n".as("n_docs"),
          when(den === 0.0, lit(0.0))
            .otherwise(round(
              ($"n".cast(D) * $"sxy".cast(D) - $"sx".cast(D) * $"sy".cast(D)) / den, 6))
            .as("corr_chars_toks"))
          .orderBy($"lang")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        j AS (SELECT dd.lang, dd.n_chars AS x,
                CAST(len(list_filter(t.w, s -> len(s) > 0)) AS BIGINT) AS y
              FROM documents dd JOIN toksc t ON dd.doc_id = t.doc_id),
        st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
                 SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
                 SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
               FROM j GROUP BY lang),
        cmb AS (SELECT lang, n,
                 sqrt(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
                 * sqrt(greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)) AS den,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
               FROM st)
        SELECT lang, n AS n_docs,
          CASE WHEN den = 0.0 THEN 0.0 ELSE ROUND(num / den, 6) END AS corr_chars_toks
        FROM cmb ORDER BY lang""")),

    // ---- temperature-flattened mixture rebalancing -------------------
    // Multilingual/multi-source training mixes flatten the source
    // distribution with temperature sampling: keep-rate per source
    // r_i = sqrt(min_n / n_i), so kept_i = sqrt(n_i * min_n) — the
    // geometric mean pulls every source toward the smallest one
    // (T = 2 flattening of p_i ∝ n_i). The keep decision is the
    // registry's standard md5-threshold filter: u32 < r_i * 2^32, so
    // the sample is deterministic, engine-independent (sqrt and one
    // multiply are IEEE-exact — no libm), and resamples stably as the
    // corpus grows. Scale: two passes — a count aggregate (tiny) and a
    // map-only filtered count with the rates broadcast back.
    Q("q104_mixture_rebalance",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
          .withColumn("u", conv(substring(md5($"doc_id".cast(StringType)), 1, 8), 16, 10).cast(LongType))
        val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        val mn = counts.agg(min($"n_docs").as("mn"))
        val rates = counts.crossJoin(broadcast(mn))
          .withColumn("rate", sqrt($"mn".cast(DoubleType) / $"n_docs"))
        docs.join(broadcast(rates.select($"source", $"n_docs", $"rate")), Seq("source"))
          .groupBy($"source")
          .agg(first($"n_docs").as("n_docs"),
            sum(when($"u" < $"rate" * lit(4294967296.0), 1L).otherwise(0L)).as("n_kept"),
            round(first($"rate"), 6).as("rate"))
          .orderBy($"source")
      },
      Some("""
        WITH u AS (SELECT source,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
          FROM documents),
        counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM u GROUP BY source),
        rates AS (SELECT source, n_docs,
            sqrt(CAST((SELECT MIN(n_docs) FROM counts) AS DOUBLE) / n_docs) AS rate
          FROM counts)
        SELECT u.source, r.n_docs,
          CAST(SUM(CASE WHEN u.u < r.rate * 4294967296.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          ROUND(r.rate, 6) AS rate
        FROM u JOIN rates r ON u.source = r.source
        GROUP BY u.source, r.n_docs, r.rate ORDER BY u.source""")),

    // ---- mergeable MinHash union (sketch mergeability) ---------------
    // THE distributed-sketch property: the MinHash signature of a
    // union of documents is the element-wise MIN of their signatures —
    // partial signatures merge map-side exactly like partial sums, so
    // at 100 TB per-shard sketches combine without ever reshuffling
    // shingles. The query builds shard-level signatures from per-doc
    // signatures (min-of-mins); the ORACLE computes each shard's
    // signature from scratch over the union of its docs' shingles — a
    // different evaluation strategy whose hash-equality PROVES the
    // mergeability identity on real data.
    Q("q105_minhash_union",
      (s, dir) => {
        import s.implicits._
        val sig = Dedup.signatures(s, dir)
          .withColumn("shard", $"doc_id" % 50)
        val aggs = (0 until graft.functions.MinHashSig.nBands)
          .map(k => min(col(s"mh$k")).as(s"mh$k"))
        sig.groupBy($"shard").agg(aggs.head, aggs.tail: _*)
          .orderBy($"shard")
      },
      Some(s"""${Dedup.shingleCte}
        SELECT doc_id % 50 AS shard,
          ${(0 until graft.functions.MinHashSig.nBands).map(k => s"min(${Dedup.bandSliceSql(k)}) AS mh$k").mkString(", ")}
        FROM sh GROUP BY doc_id % 50 ORDER BY shard""")),

    // ---- frame-level feature extraction (multimodal plumbing) --------
    // The dense-array sibling of the Multimodal blob path: treat each
    // embedding as a 64-sample PCM buffer and extract per-frame
    // features — RMS energy and peak amplitude over 4 frames of 16
    // samples. This is the real Spark-side shape of audio feature
    // extraction (fixed-stride windows over a dense column, map-only,
    // one output row per frame); the codec that DECODES real audio
    // into such buffers is JvmAudioCodec (real WAV/AU PCM via
    // javax.sound.sampled since r5 — Multimodal.audioWindows is this
    // query's shape on real frames; only VIDEO remains stubbed).
    // The frame dot product runs the codegen DotProduct
    // kernel on an array slice; sqrt is IEEE-exact and the 1e-6 round
    // matches the q33-q35 convention for fold-order ulps.
    Q("q106_frame_energy",
      (s, dir) => {
        import s.implicits._
        embeddings(s, dir)
          .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .select($"vec_id", explode(expr("sequence(0, 3)")).as("frame"), $"v")
          .withColumn("fr", expr("slice(v, frame * 16 + 1, 16)"))
          .select($"vec_id", $"frame",
            round(sqrt(expr("dot_product(fr, fr)") / 16.0), 6).as("rms"),
            round(expr("array_max(transform(fr, x -> abs(x)))"), 6).as("peak"))
          .orderBy($"vec_id", $"frame")
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        fr AS (SELECT vec_id, CAST(f AS INT) AS frame,
                 list_slice(v, f * 16 + 1, f * 16 + 16) AS fr
               FROM e, UNNEST(range(0, 4)) AS t(f))
        SELECT vec_id, frame,
          ROUND(sqrt(list_sum(list_transform(fr, x -> x * x)) / 16.0), 6) AS rms,
          ROUND(list_max(list_transform(fr, x -> abs(x))), 6) AS peak
        FROM fr ORDER BY vec_id, frame""")),

    // ---- moving average over the densified series --------------------
    // 7-day trailing moving average per event type, composed ON the
    // q95 gap-fill: the dense calendar is what makes the moving window
    // honest (on a sparse series, RANGE 6 PRECEDING would silently
    // average over present days only and a quiet week would LOOK
    // normal). Ragged leading edge uses the true window row count, so
    // day 1..6 average over what exists. Integer sums + one IEEE
    // division per row. Scale: the window runs over the grid
    // (|types| x |days| rows — metadata-sized), partitioned by type;
    // the raw stream was already reduced by q95's single aggregate.
    Q("q107_moving_avg",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"d").rangeBetween(-6, 0)
        denseGrid(s, dir).select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("day"),
            $"n_events",
            round(sum($"n_events").over(w).cast(DoubleType)
                  / count(lit(1)).over(w), 6).as("ma7"))
          .orderBy($"event_type", $"day")
      },
      Some(s"""
        WITH $gridCteSql
        SELECT event_type, DATE '1970-01-01' + CAST(d AS INT) AS day, n_events,
          ROUND(CAST(SUM(n_events) OVER wma AS DOUBLE)
                / COUNT(*) OVER wma, 6) AS ma7
        FROM grid
        WINDOW wma AS (PARTITION BY event_type ORDER BY d
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, day""")),

    // ---- winsorized robust statistics --------------------------------
    // Outlier-robust per-group stats: values clipped to the group's
    // [p10, p90] before averaging — the robust-aggregation step of any
    // metrics pipeline fed by heavy-tailed data. The interpolated
    // percentiles hash-match cross-engine (the q44 contract:
    // percentile() ≡ QUANTILE_CONT bit-for-bit), so the clip
    // comparisons agree everywhere; the clipped mean goes through the
    // standard decimal route. Scale: one percentile aggregate (small),
    // broadcast back, map-only clip, one final aggregate.
    Q("q108_winsorized_stats",
      (s, dir) => {
        import s.implicits._
        val li = lineitem(s, dir)
        // bounds are rounded to 1e-6 BEFORE the clip: a clipped row is
        // then either a raw 2-decimal price or the 6-decimal bound, so
        // the decimal-sum route (scale 6) never rounds an ambiguous
        // full-precision interpolated double — the dsum contract
        // ("scale must exceed the data's true decimal scale") holds.
        // one percentile aggregate with an array of percentages: both
        // bounds come out of a single per-group value buffer instead
        // of two (the agg is the query's dominant cost)
        val p = li.groupBy($"l_returnflag")
          .agg(percentile($"l_extendedprice", array(lit(0.1), lit(0.9))).as("ps"))
          .select($"l_returnflag",
            round(element_at($"ps", 1), 6).as("p10"),
            round(element_at($"ps", 2), 6).as("p90"))
        li.join(broadcast(p), Seq("l_returnflag"))
          .withColumn("clipped", greatest(least($"l_extendedprice", $"p90"), $"p10"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when($"l_extendedprice" < $"p10", 1L).otherwise(0L)).as("n_low"),
            sum(when($"l_extendedprice" > $"p90", 1L).otherwise(0L)).as("n_high"),
            first($"p10").as("p10"),
            first($"p90").as("p90"),
            round(davg($"clipped", 6), 6).as("wins_mean"))
          .orderBy($"l_returnflag")
      },
      Some(s"""
        WITH p AS (SELECT l_returnflag,
            ROUND(QUANTILE_CONT(l_extendedprice, 0.1), 6) AS p10,
            ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 6) AS p90
          FROM lineitem GROUP BY l_returnflag),
        c AS (SELECT li.l_returnflag, li.l_extendedprice, p.p10, p.p90,
                GREATEST(LEAST(li.l_extendedprice, p.p90), p.p10) AS clipped
              FROM lineitem li JOIN p ON li.l_returnflag = p.l_returnflag)
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN l_extendedprice < p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
          CAST(SUM(CASE WHEN l_extendedprice > p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
          ANY_VALUE(p10) AS p10,
          ANY_VALUE(p90) AS p90,
          ROUND(${davgSql("clipped", 6)}, 6) AS wins_mean
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- event-type transition matrix --------------------------------
    // First-order Markov transitions over each user's event sequence:
    // lag(event_type) per user (total order: ts, event_id tiebreak),
    // then (prev, next) counts and the per-prev transition share — the
    // sequence-model statistics behind session analysis and behavioral
    // anomaly scoring, and a different shape from q93's ordered funnel
    // (ALL adjacent pairs, not one target path). Share is one IEEE
    // division of exact counts. Scale: one user-keyed window (uniform
    // partitioning) + one small aggregate; the matrix is |types|² rows.
    Q("q109_transitions",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val pairs = events(s, dir)
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNotNull)
          .groupBy($"prev_type", $"event_type".as("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy($"prev_type").agg(sum($"n").as("tot"))
        pairs.join(broadcast(totals), Seq("prev_type"))
          .select($"prev_type", $"next_type", $"n",
            round($"n".cast(DoubleType) / $"tot", 6).as("share"))
          .orderBy($"prev_type", $"next_type")
      },
      Some("""
        WITH seq AS (SELECT user_id, event_type,
            LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events),
        pairs AS (SELECT prev_type, event_type AS next_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot FROM pairs GROUP BY prev_type)
        SELECT p.prev_type, p.next_type, p.n,
          ROUND(CAST(p.n AS DOUBLE) / t.tot, 6) AS share
        FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
        ORDER BY p.prev_type, p.next_type""")),

    // ---- token collocation lift (log-free PMI) -----------------------
    // Corpus collocations: for token pairs co-occurring in >= 5 docs,
    // lift = N * n(a,b) / (n(a) * n(b)) — exactly exp(PMI), ordered
    // identically to PMI without the log (the q82/q96/q97 libm-free
    // rule again). Presence, not frequency: the doc-token index is
    // DISTINCT first, so per-doc pair fan-out is bounded by the
    // distinct vocabulary of the doc — the q70-style inverted-index
    // shape, never corpus × corpus. Top-20 by (rounded) lift with
    // total tiebreaks.
    Q("q110_collocation_lift",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val dt = Dedup.withToks(docs)
          .select($"doc_id", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .distinct()
        val cnt = dt.groupBy($"tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val pairs = dt.as("a").join(dt.as("b"),
            $"a.doc_id" === $"b.doc_id" && $"a.tok" < $"b.tok")
          .groupBy($"a.tok".as("tok_a"), $"b.tok".as("tok_b"))
          .agg(count(lit(1)).as("nab"))
          .filter($"nab" >= 5)
        // cnt is VOCABULARY-sized TEXT (grows with the corpus): pinned
        // shuffle_hash for the same reason as Dedup.verifyJaccard —
        // compressed stats understate deserialized text ~10x, so in
        // the mid-scale hazard zone AQE would still broadcast it and
        // OOM the driver (docs/SCALING.md)
        pairs
          .join(cnt.select($"tok".as("tok_a"), $"df".as("na")).hint("shuffle_hash"), Seq("tok_a"))
          .join(cnt.select($"tok".as("tok_b"), $"df".as("nb")).hint("shuffle_hash"), Seq("tok_b"))
          .crossJoin(broadcast(nDocs))
          .select($"tok_a", $"tok_b", $"na", $"nb", $"nab",
            round(($"n_docs" * $"nab").cast(DoubleType) / ($"na" * $"nb"), 6).as("lift"))
          .orderBy($"lift".desc, $"tok_a", $"tok_b")
          .limit(20)
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        dt AS (SELECT DISTINCT doc_id, tok
               FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u WHERE len(tok) > 0),
        cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS nab
                  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
                  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT p.tok_a, p.tok_b, ca.df AS na, cb.df AS nb, p.nab,
          ROUND(CAST(nd.n_docs * p.nab AS DOUBLE) / (ca.df * cb.df), 6) AS lift
        FROM pairs p
        JOIN cnt ca ON ca.tok = p.tok_a
        JOIN cnt cb ON cb.tok = p.tok_b
        CROSS JOIN nd
        ORDER BY lift DESC, tok_a, tok_b LIMIT 20""")),

    // ---- upsert / merge apply (SCD-1, latest wins) -------------------
    // The incremental-pipeline write primitive (q90 maintains an
    // AGGREGATE incrementally; q91 keeps SCD-2 history; this is the
    // SCD-1 current-state table): apply a change batch onto a base
    // snapshot, key-matched rows replaced, new keys inserted —
    // delta UNION (base ANTI-JOIN delta), the shuffle-minimal merge
    // (one anti join keyed on the merge key; at scale both sides
    // bucket/partition on the key and the union is append-only).
    // Base/delta are derived deterministically from orders: the base
    // is missing keys ≡0 (mod 7); the delta revises keys ≡0 (mod 3)
    // with +1.5 on the price (decimal-exact arithmetic).
    Q("q111_upsert_apply",
      (s, dir) => {
        import s.implicits._
        upsertMerged(s, dir).groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice", 4).as("price_sum"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""
        WITH $upsertMergedCteSql
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
          ${dsumSql("o_totalprice", 4)} AS price_sum
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- snapshot diff (CDC classification) --------------------------
    // The reverse primitive: given two snapshots of a keyed table,
    // classify every key as inserted / deleted / updated / unchanged —
    // the change-data-capture feed an incremental pipeline consumes
    // when the source can't produce one. One full-outer join on the
    // key; value comparison on INTEGER CENTS (round(p*100) — the r7
    // representation audit replaced the DECIMAL(18,2)-from-double
    // casts, whose rounding is the one step that has diverged between
    // oracle environments) so "updated" is exact cross-engine.
    // Snapshot B = the q111 merge minus keys ≡0 (mod 11), so all four
    // classes are non-empty.
    Q("q112_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val snapA = orders(s, dir).filter($"o_orderkey" % 7 =!= 0)
          .select($"o_orderkey", round($"o_totalprice" * 100).cast(LongType).as("va"))
        val snapB = upsertMerged(s, dir).filter($"o_orderkey" % 11 =!= 0)
          .select($"o_orderkey", round($"o_totalprice" * 100).cast(LongType).as("vb"))
        snapA.join(snapB, Seq("o_orderkey"), "full_outer")
          .select(
            when($"va".isNull, lit("inserted"))
              .when($"vb".isNull, lit("deleted"))
              .when($"va" =!= $"vb", lit("updated"))
              .otherwise(lit("unchanged")).as("change"))
          .groupBy($"change").agg(count(lit(1)).as("n"))
          .orderBy($"change")
      },
      Some(s"""
        WITH $upsertMergedCteSql,
        snap_a AS (SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS va
                   FROM orders WHERE o_orderkey % 7 <> 0),
        snap_b AS (SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS vb
                   FROM merged WHERE o_orderkey % 11 <> 0)
        SELECT CASE WHEN a.va IS NULL THEN 'inserted'
                    WHEN b.vb IS NULL THEN 'deleted'
                    WHEN a.va <> b.vb THEN 'updated'
                    ELSE 'unchanged' END AS change,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
        GROUP BY 1 ORDER BY change""")),

    // ---- two-level stratified split assignment -----------------------
    // Deterministic train/val/test split, stratified by (lang, source):
    // the md5-threshold trick on a 16-way hash digit — 12/2/2 within
    // every stratum, stable under corpus growth (a doc's split never
    // changes when other docs arrive — the property random shuffles
    // lack). The canonical last step before training-data export.
    Q("q113_split_assign",
      (s, dir) => {
        import s.implicits._
        documents(s, dir)
          .withColumn("split", splitAssignCol)
          .groupBy($"lang", $"source", $"split")
          .agg(count(lit(1)).as("n"), sum($"n_chars").cast(LongType).as("chars"))
          .orderBy($"lang", $"source", $"split")
      },
      Some(s"""
        WITH s AS (SELECT lang, source, n_chars, $splitAssignSql AS split
          FROM documents)
        SELECT lang, source, split, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM s GROUP BY lang, source, split ORDER BY lang, source, split""")),

    // ---- count-min sketch frequency estimates ------------------------
    // The fixed-size mergeable frequency summary (Cormode &
    // Muthukrishnan 2005), completing the sketch family: q41 is
    // distinct-count (HLL), q105 is set-similarity (MinHash), this is
    // point frequency. 4 rows x 256 columns; cell(r, c) = count of
    // token instances with md5-hash(tok#r) = c; estimate = min over
    // the 4 rows (never undercounts — pinned by the spec against ALL
    // tokens). Production builds ONLY the sketch: one aggregate whose
    // map-side combine reduces every partition to <= 1024 cells —
    // partial aggregation IS the sketch merge, the same mergeability
    // story proved for MinHash in q105. This CALIBRATION query also
    // needs the exact counts, so it aggregates the corpus once into
    // the vocabulary-sized truth table and derives the cells from it.
    // Published output: the top-10 true-frequency tokens with their
    // estimates and overcounts.
    Q("q114_countmin",
      (s, dir) => {
        import s.implicits._
        val toks = Dedup.withToks(documents(s, dir))
          .select(explode($"toks").as("tok")).filter(length($"tok") > 0)
        // ONE corpus scan: the exact per-token counts (vocabulary-
        // sized) are materialized eagerly (the dailyCounts pattern),
        // and the sketch cells derive FROM them — all instances of a
        // token hash to the same cells, so cell(r,c) = sum of
        // true_cnt over tokens landing there, identical to counting
        // instances directly (which is what the oracle still does —
        // a deliberately different evaluation strategy)
        val truth = toks.groupBy($"tok").agg(count(lit(1)).as("true_cnt"))
          .localCheckpoint(true)
        val keyed = truth.select($"tok", $"true_cnt", explode(expr("sequence(0, 3)")).as("r"))
          .withColumn("c", conv(substring(md5(concat($"tok", lit("#"), $"r")), 1, 2), 16, 10).cast(LongType))
        val cells = keyed.groupBy($"r", $"c").agg(sum($"true_cnt").as("cell"))
        val top = truth.orderBy($"true_cnt".desc, $"tok").limit(10)
        top.select($"tok", $"true_cnt", explode(expr("sequence(0, 3)")).as("r"))
          .withColumn("c", conv(substring(md5(concat($"tok", lit("#"), $"r")), 1, 2), 16, 10).cast(LongType))
          .join(broadcast(cells), Seq("r", "c"))
          .groupBy($"tok", $"true_cnt").agg(min($"cell").as("est_cnt"))
          .select($"tok", $"true_cnt", $"est_cnt",
            ($"est_cnt" - $"true_cnt").as("overcount"))
          .orderBy($"true_cnt".desc, $"tok")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        t AS (SELECT tok FROM (SELECT UNNEST(w) AS tok FROM toksc) u WHERE len(tok) > 0),
        keyed AS (SELECT tok, r,
            ('0x' || substr(md5(tok || '#' || CAST(r AS VARCHAR)), 1, 2))::BIGINT AS c
          FROM t, UNNEST(range(0, 4)) AS s(r)),
        cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cell FROM keyed GROUP BY r, c),
        truth AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM t GROUP BY tok),
        top AS (SELECT tok, true_cnt FROM truth ORDER BY true_cnt DESC, tok LIMIT 10),
        probe AS (SELECT top.tok, top.true_cnt, r,
            ('0x' || substr(md5(top.tok || '#' || CAST(r AS VARCHAR)), 1, 2))::BIGINT AS c
          FROM top, UNNEST(range(0, 4)) AS s(r)),
        est AS (SELECT p.tok, p.true_cnt, CAST(MIN(cells.cell) AS BIGINT) AS est_cnt
                FROM probe p JOIN cells ON cells.r = p.r AND cells.c = p.c
                GROUP BY p.tok, p.true_cnt)
        SELECT tok, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
        FROM est ORDER BY true_cnt DESC, tok""")),

    // ---- per-type OLS volume trend -----------------------------------
    // Least-squares slope of daily event volume over the dense
    // calendar (q95's zero-filled grid, so dropout days pull the trend
    // down instead of silently vanishing) — the capacity-planning
    // companion to q100's anomaly flags. Same sufficient-statistic
    // contract as q103: n/sx/sy exact BIGINTs, sxx/sxy exact
    // DECIMAL(38,0) (the per-row product is (19,0)x(19,0) — no int64
    // wrap at any corpus size), one fixed chain of correctly-rounded
    // IEEE ops for the combination, slope defined 0 when the variance
    // denominator is 0, written identically in both engines. Scale:
    // the grid is |types| x |days| (metadata after one fact-table
    // aggregate); the stats aggregate partial-combines map-side and
    // the output is |types| rows.
    Q("q121_ols_trend",
      (s, dir) => {
        import s.implicits._
        val dec = DecimalType(19, 0)
        val g = denseGrid(s, dir)
        val stats = g.groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          sum($"d".cast(LongType)).as("sx"),
          sum($"n_events").as("sy"),
          sum($"d".cast(dec) * $"d".cast(dec)).as("sxx"),
          sum($"d".cast(dec) * $"n_events".cast(dec)).as("sxy"))
        val D = DoubleType
        val den = $"n".cast(D) * $"sxx".cast(D) - $"sx".cast(D) * $"sx".cast(D)
        val num = $"n".cast(D) * $"sxy".cast(D) - $"sx".cast(D) * $"sy".cast(D)
        stats.select($"event_type", $"n".as("n_days"),
            when(den === 0.0, lit(0.0)).otherwise(round(num / den, 6)).as("slope_per_day"),
            round($"sy".cast(D) / $"n", 6).as("avg_daily"))
          .orderBy($"event_type")
      },
      Some(s"""
        WITH $gridCteSql,
        st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(n_events) AS BIGINT) AS sy,
                 SUM(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sxx,
                 SUM(CAST(d AS DECIMAL(19,0)) * CAST(n_events AS DECIMAL(19,0))) AS sxy
               FROM grid GROUP BY event_type),
        cmb AS (SELECT event_type, n,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                 CAST(sy AS DOUBLE) / n AS avg_daily
               FROM st)
        SELECT event_type, n AS n_days,
          CASE WHEN den = 0.0 THEN 0.0 ELSE ROUND(num / den, 6) END AS slope_per_day,
          ROUND(avg_daily, 6) AS avg_daily
        FROM cmb ORDER BY event_type""")),

    // ---- robust (median/MAD) daily outliers --------------------------
    // The robust complement to q100's mean/sigma z-scores on the SAME
    // observed-days base: a handful of genuine spikes inflate sigma and
    // mask each other, while the median/MAD center doesn't move. The
    // textbook flag |x - med| > 3 * 1.4826 * MAD is evaluated as PURE
    // INTEGER arithmetic so no float boundary can flip a row between
    // engines: med2 := 2*median and mad4 := 2*median(|2x - med2|) are
    // exactly-representable half-integers scaled to BIGINTs (both
    // engines' interpolating percentile yields k or k.5 on integer
    // input — the q44-verified behavior), and the flag becomes
    // 10000*dev2 > 22239*mad4 (dev2 := |2x - med2|; 3*1.4826 = 4.4478,
    // halved twice for the 2x/4x scaling). Types whose MAD is 0 (a
    // majority-constant series, where the estimator is undefined) are
    // excluded, documented here. The published robust_z is one
    // multiply + one divide on the exact integers, rounded — identical
    // IEEE chain both engines. Scale: the fact table collapses to
    // |types| x |days| counts in one aggregate; both percentile passes
    // are GROUPED buffers (the q44 contract) over that metadata-sized
    // frame, and the per-type stats broadcast back.
    Q("q123_mad_outliers",
      (s, dir) => {
        import s.implicits._
        val daily = dailyCounts(s, dir)
        val med = daily.groupBy($"event_type")
          .agg((percentile($"n_events", lit(0.5)) * 2).cast(LongType).as("med2"))
        val dev = daily.join(broadcast(med), Seq("event_type"))
          .withColumn("dev2", abs($"n_events" * 2 - $"med2"))
        val mad = dev.groupBy($"event_type")
          .agg((percentile($"dev2", lit(0.5)) * 2).cast(LongType).as("mad4"))
        dev.join(broadcast(mad), Seq("event_type"))
          .filter($"mad4" > 0 && $"dev2" * 10000 > $"mad4" * 22239)
          .select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("day"),
            $"n_events",
            round(($"dev2" * lit(2.0)) / ($"mad4" * lit(1.4826)), 6).as("robust_z"))
          .orderBy($"event_type", $"day")
      },
      Some(s"""
        WITH $dailyCteSql,
        med AS (SELECT event_type,
                  CAST(QUANTILE_CONT(n_events, 0.5) * 2 AS BIGINT) AS med2
                FROM daily GROUP BY event_type),
        dev AS (SELECT d.event_type, d.d, d.n_events,
                  ABS(d.n_events * 2 - m.med2) AS dev2
                FROM daily d JOIN med m ON d.event_type = m.event_type),
        mad AS (SELECT event_type,
                  CAST(QUANTILE_CONT(dev2, 0.5) * 2 AS BIGINT) AS mad4
                FROM dev GROUP BY event_type)
        SELECT dev.event_type, DATE '1970-01-01' + CAST(dev.d AS INT) AS day,
          dev.n_events,
          ROUND((dev.dev2 * 2.0) / (mad.mad4 * 1.4826), 6) AS robust_z
        FROM dev JOIN mad ON dev.event_type = mad.event_type
        WHERE mad.mad4 > 0 AND dev.dev2 * 10000 > mad.mad4 * 22239
        ORDER BY dev.event_type, day"""))
    ,

    // ---- CUSUM change-point detection --------------------------------
    // Per event_type: the day where the cumulative deviation from the
    // type's mean daily rate peaks — the classic CUSUM statistic
    // C_t = sum_{i<=t}(x_i - mean), computed integer-exactly by
    // multiplying through by T: C'_t = T*cumsum_t - t*total (same
    // argmax, no fractional mean). Products go through DECIMAL(19,0)
    // operands (the q100/q103 overflow pattern — bigint would wrap
    // silently once total_events*days passes 2^63, exactly the 100 TB
    // regime); only the FINAL normalized ratio |C'|/(T*total), a
    // scale-free [0,1] statistic, leaves decimal, so no output cast
    // can overflow at any corpus size. Ties (equal |C'|) break to the
    // earliest day. Scale: the window runs on the daily-counts frame
    // (|types| x |days| rows — metadata, one fact-table scan via the
    // shared localCheckpointed dailyCounts), partitioned by type; no
    // global window anywhere.
    Q("q126_cusum_changepoint",
      (s, dir) => {
        import s.implicits._
        val daily = dailyCounts(s, dir)
        val st = daily.groupBy($"event_type")
          .agg(count(lit(1)).as("days"), sum($"n_events").as("total"))
        val w = Window.partitionBy($"event_type").orderBy($"d")
        val cu = daily
          .withColumn("t", row_number().over(w))
          .withColumn("cum", sum($"n_events").over(w))
        val dec = DecimalType(19, 0)
        val c = cu.join(broadcast(st), Seq("event_type"))
          .withColumn("cabs", abs($"days".cast(dec) * $"cum".cast(dec)
            - $"t".cast(dec) * $"total".cast(dec)))
        c.withColumn("rk", row_number().over(
            Window.partitionBy($"event_type").orderBy($"cabs".desc, $"d")))
          .filter($"rk" === 1)
          .select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("cp_day"),
            round($"cabs".cast(DoubleType)
              / ($"days".cast(DoubleType) * $"total".cast(DoubleType)), 6)
              .as("rel_cusum"),
            $"days".as("n_days"))
          .orderBy($"event_type")
      },
      Some(s"""
        WITH $dailyCteSql,
        st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days,
                 CAST(SUM(n_events) AS BIGINT) AS total
               FROM daily GROUP BY event_type),
        cu AS (SELECT event_type, d,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
                 SUM(n_events) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM daily),
        c AS (SELECT cu.event_type, cu.d, st.days, st.total,
                ABS(CAST(st.days AS DECIMAL(19,0)) * CAST(cu.cum AS DECIMAL(19,0))
                  - CAST(cu.t AS DECIMAL(19,0)) * CAST(st.total AS DECIMAL(19,0))) AS cabs
              FROM cu JOIN st ON cu.event_type = st.event_type),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY cabs DESC, d) AS rk FROM c)
        SELECT event_type, DATE '1970-01-01' + CAST(d AS INT) AS cp_day,
          ROUND(CAST(cabs AS DOUBLE) / (CAST(days AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS rel_cusum,
          days AS n_days
        FROM r WHERE rk = 1 ORDER BY event_type""")),

    // ---- LOCF gap fill (last observation carried forward) ------------
    // q95 zero-fills missing calendar cells (right for COUNTS); for a
    // VALUE series the standard fill is LOCF — carry the last observed
    // per-day mean forward across gaps, `was_observed` distinguishing
    // carried cells, days before a type's first observation staying
    // NULL (LOCF leaves them undefined; publishing a fabricated 0
    // would be a lie the flag couldn't undo). Means ride the exact
    // decimal-sum davg (order-insensitive), then values pass through
    // the window UNCHANGED — one final round(6) on both engines.
    // Scale: the window runs on the dense grid (|types| x |days| —
    // metadata), partitioned by type; the fact scan is one
    // partial-combined aggregate; the same contract as q95/q107/q126.
    Q("q133_locf_fill",
      (s, dir) => {
        import s.implicits._
        val daily = events(s, dir)
          .withColumn("d", datediff(to_date($"ts"), to_date(lit("1970-01-01"))))
          .groupBy($"event_type", $"d").agg(davg($"value", 4).as("v"))
          .localCheckpoint(true)
        val cal = daily.agg(min($"d").as("mn"), max($"d").as("mx"))
          .select(explode(sequence($"mn", $"mx")).as("d"))
        val grid = daily.select($"event_type").distinct()
          .crossJoin(broadcast(cal))
          .join(broadcast(daily), Seq("event_type", "d"), "left")
        val w = Window.partitionBy($"event_type").orderBy($"d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.select($"event_type",
            date_add(to_date(lit("1970-01-01")), $"d").as("day"),
            round(last($"v", ignoreNulls = true).over(w), 6).as("v_filled"),
            $"v".isNotNull.as("was_observed"))
          .orderBy($"event_type", $"day")
      },
      Some(s"""
        WITH daily AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS d,
                         ${davgSql("value", 4)} AS v
                       FROM events GROUP BY 1, 2),
        cal AS (SELECT unnest(range(mn, mx + 1)) AS d
                FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily)),
        grid AS (SELECT t.event_type, cal.d, dy.v
                 FROM (SELECT DISTINCT event_type FROM daily) t
                 CROSS JOIN cal
                 LEFT JOIN daily dy ON dy.event_type = t.event_type AND dy.d = cal.d)
        SELECT event_type, DATE '1970-01-01' + CAST(d AS INT) AS day,
          ROUND(LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled,
          (v IS NOT NULL) AS was_observed
        FROM grid ORDER BY event_type, day""")),

    // ---- user growth: DAU, new users, cumulative uniques -------------
    // The product-analytics staple. first-seen is a user-keyed MIN —
    // partial-aggregable, ONE shuffle of user ids, never a window over
    // users (the q127 first-occurrence pattern). The cumulative-unique
    // series is DELIBERATELY a <= theta-join on the daily frame, not a
    // global window: an empty-partition-spec WindowExec is the lint's
    // third forbidden shape, and |days| is bounded by the time span —
    // it does NOT scale with corpus size, so the quadratic is
    // metadata×metadata at any scale (the q98 pair-grid argument).
    // All-integer outputs; cum_users on the last day must equal total
    // distinct users (pinned by the spec).
    Q("q134_user_growth",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"user_id", to_date($"ts").as("day"))
        val dau = ev.groupBy($"day")
          .agg(countDistinct($"user_id").as("dau"))
        val newu = ev.groupBy($"user_id").agg(min($"day").as("day"))
          .groupBy($"day").agg(count(lit(1)).as("new_users"))
        val daily = dau.join(newu, Seq("day"), "left")
          .select($"day", $"dau", coalesce($"new_users", lit(0L)).as("new_users"))
          .localCheckpoint(true)
        val cum = daily.as("a").join(broadcast(daily.as("b")), $"b.day" <= $"a.day")
          .groupBy($"a.day".as("day"))
          .agg(sum($"b.new_users").as("cum_users"))
        daily.join(cum, "day")
          .select($"day", $"dau", $"new_users", $"cum_users")
          .orderBy($"day")
      },
      Some("""
        WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
        dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
                FROM ev GROUP BY day),
        first AS (SELECT user_id, MIN(day) AS day FROM ev GROUP BY user_id),
        newu AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
                 FROM first GROUP BY day),
        daily AS (SELECT dau.day, dau.dau, COALESCE(newu.new_users, 0) AS new_users
                  FROM dau LEFT JOIN newu ON dau.day = newu.day)
        SELECT a.day, a.dau, a.new_users,
          CAST(SUM(b.new_users) AS BIGINT) AS cum_users
        FROM daily a JOIN daily b ON b.day <= a.day
        GROUP BY a.day, a.dau, a.new_users
        ORDER BY a.day"""))
    ,

    // ---- distribution drift: first-half vs second-half histograms ----
    // The training-data monitoring staple ("did this source's value
    // distribution move?"), as total-variation distance between the
    // two halves of the time range: TV = L1/2 over 10 fixed-width
    // value bins per event_type. Integer-exact by cross-multiplying —
    // |h1*n2 - h2*n1| summed in DECIMAL (products are (19,0)^2, the
    // q100/q103 contract: h*n wraps int64 as soon as both pass ~3e9),
    // ONE double division by 2*n1*n2 at the end, so the only floats
    // are each value's bin assignment (identical IEEE arithmetic on
    // identical min/max in both engines) and the final published
    // ratio. drift in [0,1]; NULL when a half is empty (a fabricated
    // 0 or 1 would be a lie). Scale: one fact scan into a (type, bin,
    // half) agg — partial-combined, 20 cells per type; everything
    // downstream is metadata-sized.
    Q("q135_histogram_drift",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"event_type",
          datediff(to_date($"ts"), to_date(lit("1970-01-01"))).as("d"), $"value")
        val span = ev.agg(min($"d").as("dmn"), max($"d").as("dmx"))
        val rng = ev.groupBy($"event_type")
          .agg(min($"value").as("vmn"), max($"value").as("vmx"))
        val dec = DecimalType(19, 0)
        val binned = ev.join(broadcast(rng), "event_type")
          .crossJoin(broadcast(span))
          .select($"event_type",
            when($"vmx" === $"vmn", lit(0))
              .otherwise(least(lit(9), floor(($"value" - $"vmn") * 10.0
                / ($"vmx" - $"vmn")).cast(IntegerType))).as("bin"),
            ($"d" * 2 <= $"dmn" + $"dmx").as("firstHalf"))
        val cells = binned.groupBy($"event_type", $"bin")
          .agg(sum(when($"firstHalf", 1L).otherwise(0L)).as("h1"),
            sum(when($"firstHalf", 0L).otherwise(1L)).as("h2"))
        val totals = cells.groupBy($"event_type")
          .agg(sum($"h1").as("n1"), sum($"h2").as("n2"))
        cells.join(broadcast(totals), "event_type")
          .groupBy($"event_type", $"n1", $"n2")
          .agg(sum(abs($"h1".cast(dec) * $"n2".cast(dec)
            - $"h2".cast(dec) * $"n1".cast(dec))).as("l1"))
          .select($"event_type", $"n1", $"n2",
            when($"n1" === 0 || $"n2" === 0, lit(null).cast(DoubleType))
              .otherwise(round($"l1".cast(DoubleType)
                / (lit(2.0) * $"n1".cast(DoubleType) * $"n2".cast(DoubleType)), 6))
              .as("drift"))
          .orderBy($"event_type")
      },
      Some("""
        WITH ev AS (SELECT event_type, (ts::DATE - DATE '1970-01-01') AS d, value FROM events),
        span AS (SELECT MIN(d) AS dmn, MAX(d) AS dmx FROM ev),
        rng AS (SELECT event_type, MIN(value) AS vmn, MAX(value) AS vmx
                FROM ev GROUP BY event_type),
        binned AS (SELECT ev.event_type,
                     CASE WHEN rng.vmx = rng.vmn THEN 0
                          ELSE LEAST(9, CAST(FLOOR((ev.value - rng.vmn) * 10.0
                            / (rng.vmx - rng.vmn)) AS INT)) END AS bin,
                     (ev.d * 2 <= span.dmn + span.dmx) AS firstHalf
                   FROM ev JOIN rng ON ev.event_type = rng.event_type CROSS JOIN span),
        cells AS (SELECT event_type, bin,
                    CAST(SUM(CASE WHEN firstHalf THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                    CAST(SUM(CASE WHEN firstHalf THEN 0 ELSE 1 END) AS BIGINT) AS h2
                  FROM binned GROUP BY 1, 2),
        totals AS (SELECT event_type, CAST(SUM(h1) AS BIGINT) AS n1,
                     CAST(SUM(h2) AS BIGINT) AS n2
                   FROM cells GROUP BY event_type)
        SELECT c.event_type, t.n1, t.n2,
          CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
               ELSE ROUND(CAST(SUM(ABS(CAST(c.h1 AS DECIMAL(19,0)) * CAST(t.n2 AS DECIMAL(19,0))
                 - CAST(c.h2 AS DECIMAL(19,0)) * CAST(t.n1 AS DECIMAL(19,0)))) AS DOUBLE)
                 / (2.0 * CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) END AS drift
        FROM cells c JOIN totals t ON c.event_type = t.event_type
        GROUP BY c.event_type, t.n1, t.n2
        ORDER BY c.event_type""")),

    // ---- PageRank over the customer-supplier graph (q140) ------------
    // The iterative-graph companion to q66's components: who are the
    // central actors in the purchase network? Undirected bipartite
    // graph (customer)-(supplier) with an edge per DISTINCT trading
    // pair from orders x lineitem; 3 damped power iterations
    // (d = 0.85); top 20 nodes by final mass.
    //
    // Determinism: ranks are BIGINT mass scaled by 1e12 — every step
    // is integer div/mul/sum (floor semantics identical in both
    // engines), so iteration is EXACTLY reproducible cross-engine; no
    // float ever enters an ordering. Overflow headroom: total mass is
    // conserved-or-shrunk by the floors (<= n*1e12 ~ 1e16 here), and
    // the 85x staging product stays < 1e18 << Long.Max.
    //
    // Scale: the classic message-passing shape — each iteration is one
    // equi-join (edges x ranks, both partitioned by src) plus one
    // partial-combined groupBy(dst); edges+degrees are computed ONCE
    // and localCheckpointed (the q66 pattern) so the orders x lineitem
    // derivation isn't re-run per iteration; iteration count is fixed
    // (3), not data-dependent — no driver-side convergence loop over
    // collected data. At 100 TB the edge frame shuffles by src once
    // per iteration — GraphX/Pregel does the same joins without the
    // relational optimizer; there is no cheaper shape.
    Q("q140_pagerank",
      (s, dir) => {
        import s.implicits._
        val eo = orders(s, dir)
          .join(lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
          .select($"o_custkey".as("c"), $"l_suppkey".as("sp")).distinct()
        // r14 NEGATIVE RESULT (guide §2.6): spreading this checkpoint
        // by src before the 3 rank iterations measured NO change
        // (min 2.98 → 2.94 s, inside noise) — the query's cost is the
        // per-iteration join/agg chain latency, not map parallelism.
        // Left as-is on that measurement.
        val edges = eo.select(concat(lit("c"), $"c").as("src"), concat(lit("s"), $"sp").as("dst"))
          .union(eo.select(concat(lit("s"), $"sp").as("src"), concat(lit("c"), $"c").as("dst")))
          .localCheckpoint(true)
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("d")).localCheckpoint(true)
        var r = edges.select($"src".as("node")).distinct()
          .withColumn("r", lit(1000000000000L))
        for (_ <- 1 to 3) {
          r = edges.join(deg, "src").join(r, $"src" === $"node")
            .select($"dst", expr("r div d").as("contrib"))
            .groupBy($"dst").agg(sum($"contrib").as("m"))
            .select($"dst".as("node"), (expr("85 * m div 100") + lit(150000000000L)).as("r"))
        }
        r.select($"node", $"r".as("pr")).orderBy($"pr".desc, $"node").limit(20)
      },
      Some("""
        WITH eo AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        edges AS (SELECT 'c' || c AS src, 's' || sp AS dst FROM eo
                  UNION ALL SELECT 's' || sp AS src, 'c' || c AS dst FROM eo),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
        r0 AS (SELECT DISTINCT src AS node, CAST(1000000000000 AS BIGINT) AS r FROM edges),
        r1 AS (SELECT e.dst AS node, 85 * SUM(r0.r // g.d) // 100 + 150000000000 AS r
               FROM edges e JOIN deg g ON g.src = e.src JOIN r0 ON r0.node = e.src
               GROUP BY e.dst),
        r2 AS (SELECT e.dst AS node, 85 * SUM(r1.r // g.d) // 100 + 150000000000 AS r
               FROM edges e JOIN deg g ON g.src = e.src JOIN r1 ON r1.node = e.src
               GROUP BY e.dst),
        r3 AS (SELECT e.dst AS node, 85 * SUM(r2.r // g.d) // 100 + 150000000000 AS r
               FROM edges e JOIN deg g ON g.src = e.src JOIN r2 ON r2.node = e.src
               GROUP BY e.dst)
        SELECT node, CAST(r AS BIGINT) AS pr FROM r3
        ORDER BY pr DESC, node LIMIT 20""")),

    // ---- degree-oriented triangle counting (q142) --------------------
    // Cohesion census of the co-purchase graph: parts that appear in
    // the same order are edges; triangles are the clustering signal.
    // The SCALE trick is the orientation: every undirected edge points
    // from its lower endpoint to its higher endpoint under the TOTAL
    // order pi = (degree, id), so each triangle is generated exactly
    // once as a wedge at its pi-minimal vertex, and wedge fan-out per
    // vertex is C(outdeg, 2) with outdeg <= O(sqrt(m)) — the classic
    // arboricity bound that makes triangle counting feasible on
    // power-law graphs where the naive per-vertex C(deg, 2) explodes
    // on hubs. All steps are equi-joins / partial-combined aggs;
    // edges + degrees materialize ONCE (localCheckpoint, the q140
    // pattern). The ORACLE counts by an entirely different strategy —
    // the unoriented u<v<w triple join — so the hash match proves the
    // orientation argument on real data.
    Q("q142_triangles",
      (s, dir) => {
        import s.implicits._
        val li = lineitem(s, dir).select($"l_orderkey".as("ok"), $"l_partkey".as("p"))
        val e = li.join(li.withColumnRenamed("p", "q"), "ok")
          .where($"p" < $"q")
          .select($"p".as("u"), $"q".as("v")).distinct()
          .localCheckpoint(true)
        val deg = e.select($"u".as("node")).union(e.select($"v".as("node")))
          .groupBy($"node").agg(count(lit(1)).as("dg"))
        val ed = e.join(deg.select($"node".as("u"), $"dg".as("du")), "u")
          .join(deg.select($"node".as("v"), $"dg".as("dv")), "v")
        val uFirst = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
        val o = ed.select(
            when(uFirst, $"u").otherwise($"v").as("src"),
            when(uFirst, $"v").otherwise($"u").as("dst"),
            when(uFirst, $"dv").otherwise($"du").as("ddst"))
          .localCheckpoint(true)
        // merge hint: the wedge self-join must not build per-task hash
        // maps — at 100x they compete with the downstream partial
        // aggregate for execution memory (measured AGGREGATE_OUT_OF_
        // MEMORY at 0.5 GB/task); sort-merge spills its runs
        // predictably and leaves the memory to the agg.
        val wedges = o.as("x").hint("merge").join(o.as("y"),
            $"x.src" === $"y.src" && ($"x.ddst" < $"y.ddst" ||
              ($"x.ddst" === $"y.ddst" && $"x.dst" < $"y.dst")))
          .select($"x.dst".as("a"), $"y.dst".as("b"))
        // Bloom-prefilter the wedge stream BEFORE its (a,b) exchange —
        // the round-6 100x finding: the closing join's shuffle carries
        // the FULL wedge stream (sqrt-m-bounded but ~10x the edge
        // count on this graph; measured ~linear growth that filled a
        // 77 GB disk at 100x). A driver bloom over the oriented edge
        // keys (q99's pattern; bits = O(|E|), fpp the dial) drops
        // non-closing wedges map-side, so the exchange carries
        // ~triangles + fpp*wedges instead of all wedges. The join
        // after the filter keeps exactness — the bloom only ever
        // passes a superset.
        // V1 bloom at the classic optimal size (Scale.v1Bloom — the
        // stat.bloomFilter default is measurably broken, SCALE_DESIGN
        // rule 6), shipped as a BROADCAST: a UDF closure deserializes
        // once per task, and 32 concurrent copies of a 268 MB filter
        // was a measured heap OOM at 100x.
        val bf = Scale.v1Bloom(
          o.select(xxhash64($"src", $"dst").as("k")), "k", o.count())
        val bcBf = s.sparkContext.broadcast(bf)
        val mightClose = udf((k: Long) => bcBf.value.mightContain(k))
        // Partial-aggregate wedge COUNTS by closing pair BEFORE the
        // exchange: on a clique-heavy graph most wedges close, so the
        // bloom alone still shuffles ~triangle volume (measured: the
        // raw wedge exchange filled a 77 GB disk at 100x). groupBy
        // (a,b) partial-combines map-side — every wedge sharing a
        // closing pair collapses to one (a,b,count) row per map
        // partition — so the exchange is bounded by DISTINCT candidate
        // pairs (<= |E|-scale), not wedge volume, at any clique
        // density. The bloom stays: it keeps non-closing pairs out of
        // the aggregation hash as well as the exchange.
        val tri = wedges
          .filter(mightClose(xxhash64($"a", $"b")))
          .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
          .join(o.select($"src".as("a"), $"dst".as("b")), Seq("a", "b"))
          .agg(coalesce(sum($"w"), lit(0L)).as("n_triangles"))
        e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
      },
      Some("""
        WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        e AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
          (SELECT CAST(COUNT(*) AS BIGINT)
           FROM e e1 JOIN e e2 ON e2.u = e1.v
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""")),

    // ---- 2D skyline / Pareto frontier (q143) -------------------------
    // Parts no other part beats on BOTH price (lower better) and size
    // (higher better) — the dominance frontier every "best tradeoff"
    // query needs. 2D skylines have a cummax formulation (sort by
    // price, survive iff size tops every strictly-cheaper size), but
    // the naive `MAX() OVER (ORDER BY price)` is a single-partition
    // global window — the q102 scale-killer — so this runs the q102
    // shape instead: approx cutpoints split prices into P ranges, the
    // per-range prefix maxima are an O(P) driver array (rule-2
    // bounded), and the per-range cummax windows run IN PARALLEL.
    // Cutpoint accuracy affects balance only, never membership. The
    // heavy table first collapses to one row per distinct price
    // (partial-combined agg) — dominance within a price is resolved
    // by that max, so the window frame never sees data-sized
    // duplication. The ORACLE is the quadratic NOT EXISTS dominance
    // definition — a different evaluation strategy entirely.
    Q("q143_skyline",
      (s, dir) => {
        import s.implicits._
        val pts = part(s, dir).groupBy($"p_retailprice".as("price"))
          .agg(max($"p_size").as("sky_size"))
          .localCheckpoint(true)
        val nRanges = s.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
        val probs = (1 until nRanges).map(_.toDouble / nRanges)
        val cutRow = pts.agg(percentile_approx($"price".cast("double"),
          typedLit(probs), lit(10000)).as("c")).head()
        val cuts: Seq[Double] =
          if (cutRow.isNullAt(0)) Seq.empty
          else cutRow.getSeq[Double](0).distinct.sorted
        val rid = cuts.zipWithIndex.foldRight(lit(cuts.size): Column) {
          case ((c, i), rest) => when($"price" <= lit(c), lit(i)).otherwise(rest)
        }
        val withRid = pts.withColumn("rid", rid)
        // O(P) per-range maxima -> strictly-preceding-range prefix max
        val mx = withRid.groupBy($"rid").agg(max($"sky_size").as("m"))
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        val prefix = new Array[Int](cuts.size + 1)
        var acc = Int.MinValue
        for (p <- 0 until (cuts.size + 1)) {
          prefix(p) = acc
          acc = math.max(acc, mx.getOrElse(p, Int.MinValue))
        }
        val lw = Window.partitionBy($"rid").orderBy($"price")
          .rowsBetween(Window.unboundedPreceding, -1)
        withRid
          .withColumn("cm", max($"sky_size").over(lw))
          .withColumn("pm", element_at(typedLit(prefix.toSeq), $"rid" + 1))
          .where($"sky_size" > greatest(coalesce($"cm", lit(Int.MinValue)), $"pm"))
          .select($"price", $"sky_size")
          .orderBy($"price")
      },
      Some("""
        WITH pts AS (SELECT p_retailprice AS price, MAX(p_size) AS sky_size
                     FROM part GROUP BY 1)
        SELECT price, CAST(sky_size AS INT) AS sky_size FROM pts a
        WHERE NOT EXISTS (SELECT 1 FROM pts b
          WHERE (b.price < a.price AND b.sky_size >= a.sky_size)
             OR (b.price <= a.price AND b.sky_size > a.sky_size))
        ORDER BY price""")),

    // ---- declarative data-expectations audit (q144) ------------------
    // The Deequ-style contract gate a training pipeline runs before
    // trusting a new drop: range checks, null checks, key uniqueness
    // and referential integrity, each published as (check, violations,
    // pass). Shape: ALL row-local checks ride ONE partial-combined
    // scan (one agg row, unpivoted to rows — adding a 10th check adds
    // zero passes); uniqueness is its own two-phase distinct count
    // (kept OUT of the shared agg: a distinct aggregate alongside
    // plain sums forces the Expand plan q41 documents as
    // catastrophic); RI orphans are one anti-join. The 1-row
    // crossJoins are broadcast by construction. At 100 TB this is 2
    // scans of the fact + 1 anti-join — the floor for these checks.
    Q("q144_data_expectations",
      (s, dir) => {
        import s.implicits._
        val li = lineitem(s, dir)
        val rowChecks = li.agg(
          count(lit(1)).as("n_rows"),
          sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L)).as("qty_range"),
          sum(when($"l_discount" * 100 < 0 || $"l_discount" * 100 > 10, 1L).otherwise(0L)).as("disc_range"),
          sum(when($"l_extendedprice" <= 0, 1L).otherwise(0L)).as("price_nonpos"),
          sum(when($"l_shipdate".isNull, 1L).otherwise(0L)).as("shipdate_null"))
        val dup = li.agg((count(lit(1)) -
          countDistinct($"l_orderkey", $"l_linenumber")).as("dup_keys"))
        val orphans = li.select($"l_orderkey")
          .join(orders(s, dir).select($"o_orderkey"),
            $"l_orderkey" === $"o_orderkey", "left_anti")
          .agg(count(lit(1)).as("ri_orphans"))
        val m = rowChecks.crossJoin(dup).crossJoin(orphans)
        def row(name: String, c: Column) =
          m.select(lit(name).as("check"), c.as("violations"),
            (c === 0L).as("pass"))
        row("disc_range", $"disc_range")
          .union(row("dup_keys", $"dup_keys"))
          .union(row("shipdate_null", $"shipdate_null"))
          .union(row("price_nonpos", $"price_nonpos"))
          .union(row("qty_range", $"qty_range"))
          .union(row("ri_orphans", $"ri_orphans"))
          .orderBy($"check")
      },
      Some("""
        WITH m AS (SELECT
            CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
            CAST(SUM(CASE WHEN l_discount * 100 < 0 OR l_discount * 100 > 10 THEN 1 ELSE 0 END) AS BIGINT) AS disc_range,
            CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_nonpos,
            CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_null,
            CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS dup_keys,
            CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS ri_orphans
          FROM lineitem)
        SELECT 'disc_range' AS "check", disc_range AS violations, disc_range = 0 AS pass FROM m
        UNION ALL SELECT 'dup_keys', dup_keys, dup_keys = 0 FROM m
        UNION ALL SELECT 'shipdate_null', shipdate_null, shipdate_null = 0 FROM m
        UNION ALL SELECT 'price_nonpos', price_nonpos, price_nonpos = 0 FROM m
        UNION ALL SELECT 'qty_range', qty_range, qty_range = 0 FROM m
        UNION ALL SELECT 'ri_orphans', ri_orphans, ri_orphans = 0 FROM m
        ORDER BY "check" """)),

    // ---- k-core decomposition by bounded peeling (q160) --------------
    // Graph curation's standard spam/periphery filter (web-graph and
    // social-graph pipelines): iteratively remove nodes of degree < k
    // until the k-core remains. Rounds are FIXED (6) and the published
    // output is the per-round (nodes, edges) survivor census — the
    // fixpoint is visible as adjacent equal rows, and a graph whose
    // peel hasn't stabilized by round 5 shows that honestly instead of
    // hiding a data-dependent driver loop (the q148 lesson: bounded
    // rounds + self-certifying output beats unbounded convergence).
    // Graph = q140's customer-supplier trading graph, k = 30 (just
    // under this graph's median degree, so the peel genuinely
    // cascades: removing a median node pushes neighbors below k).
    //
    // Scale: each round is ONE degree aggregate (partial-combined,
    // node-keyed) + two semi-joins against the >= k survivor set —
    // the same per-round cost as a q140 iteration; per-round frames
    // are lazily localCheckpointed (the q66 pattern) so round r+1
    // reads materialized blocks instead of recomputing rounds 0..r,
    // and the census rows are 1-row aggregates crossJoined
    // broadcast-style. No driver-side convergence loop: 6 rounds is
    // the plan, not a runtime decision.
    Q("q160_kcore",
      (s, dir) => {
        import s.implicits._
        val k = 30
        val rounds = 6
        val eo = orders(s, dir)
          .join(lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
          .select(concat(lit("c"), $"o_custkey").as("a"),
            concat(lit("s"), $"l_suppkey").as("b")).distinct()
          .localCheckpoint(false)
        def degs(e: DataFrame): DataFrame =
          e.select($"a".as("n")).union(e.select($"b".as("n")))
            .groupBy($"n").agg(count(lit(1)).as("dg"))
        var e = eo
        var out: DataFrame = null
        for (r <- 0 until rounds) {
          // deg is consumed twice (census + keep) but NOT checkpointed:
          // a degree aggregate over the checkpointed edge blocks costs
          // the same recomputed as materialized (measured at sf0.1 —
          // 6.0 s min both ways; the round cost is exchange latency,
          // not this frame), so prefer the form with less block-store
          // state. e itself MUST checkpoint: round r+1's lineage would
          // otherwise re-run every earlier round per census row.
          val d = degs(e)
          val row = d.agg(count(lit(1)).as("n_nodes"))
            .crossJoin(e.agg(count(lit(1)).as("n_edges")))
            .select(lit(r).as("round"), $"n_nodes", $"n_edges")
          out = if (out == null) row else out.union(row)
          val keep = d.filter($"dg" >= k).select($"n")
          e = e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
            .localCheckpoint(false)
        }
        out.orderBy($"round")
      },
      Some("""
        WITH e0 AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        d0 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
        e1 AS MATERIALIZED (SELECT * FROM e0 WHERE a IN (SELECT n FROM d0 WHERE dg >= 30)
                                  AND b IN (SELECT n FROM d0 WHERE dg >= 30)),
        d1 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n),
        e2 AS MATERIALIZED (SELECT * FROM e1 WHERE a IN (SELECT n FROM d1 WHERE dg >= 30)
                                  AND b IN (SELECT n FROM d1 WHERE dg >= 30)),
        d2 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n),
        e3 AS MATERIALIZED (SELECT * FROM e2 WHERE a IN (SELECT n FROM d2 WHERE dg >= 30)
                                  AND b IN (SELECT n FROM d2 WHERE dg >= 30)),
        d3 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) GROUP BY n),
        e4 AS MATERIALIZED (SELECT * FROM e3 WHERE a IN (SELECT n FROM d3 WHERE dg >= 30)
                                  AND b IN (SELECT n FROM d3 WHERE dg >= 30)),
        d4 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4) GROUP BY n),
        e5 AS MATERIALIZED (SELECT * FROM e4 WHERE a IN (SELECT n FROM d4 WHERE dg >= 30)
                                  AND b IN (SELECT n FROM d4 WHERE dg >= 30)),
        d5 AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
                 (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5) GROUP BY n)
        SELECT 0 AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM d0) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges
        UNION ALL SELECT 1, (SELECT COUNT(*) FROM d1), (SELECT COUNT(*) FROM e1)
        UNION ALL SELECT 2, (SELECT COUNT(*) FROM d2), (SELECT COUNT(*) FROM e2)
        UNION ALL SELECT 3, (SELECT COUNT(*) FROM d3), (SELECT COUNT(*) FROM e3)
        UNION ALL SELECT 4, (SELECT COUNT(*) FROM d4), (SELECT COUNT(*) FROM e4)
        UNION ALL SELECT 5, (SELECT COUNT(*) FROM d5), (SELECT COUNT(*) FROM e5)
        ORDER BY round""")),

    // ---- Heaps'-law vocabulary growth curve (q169, new r7) -----------
    // The corpus-sizing diagnostic a tokenizer/training plan is built
    // on: how fast does the type inventory grow as the corpus grows?
    // Docs are bucketed into 10 id-range deciles (VALUE-based cuts
    // from the min/max id — one 1-row broadcast, never a global rank:
    // an ntile here would be the q102 single-partition window
    // anti-pattern); each token TYPE is attributed to the decile of
    // its FIRST document, so per-decile new-type counts need exactly
    // ONE token-keyed exchange (min(doc_id) per token, partial-
    // combined). The cumulative curve is assembled by a <=10-row
    // self theta-join (q134's metadata-grid class — never a window).
    // Published per decile: docs, token instances, new types,
    // cumulative types/tokens and the running type/token ratio — a
    // flattening TTR curve is Heaps' law in action; a LINEAR one
    // screams synthetic/templated content (dedup before tokenizing).
    // Integer decile math ((fd-mn)*10 DIV span) is exact in both
    // engines; the one double (TTR) divides two BIGINTs and rounds
    // to 1e-6 per the repo contract.
    Q("q169_vocab_growth",
      (s, dir) => {
        import s.implicits._
        val docs = Dedup.withToks(documents(s, dir)).select($"doc_id", $"toks")
        val consts = docs.agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
        val decile = (c: String) =>
          expr(s"CAST((($c - mn) * 10) DIV (mx - mn + 1) AS INT)").as("decile")
        val perDoc = docs
          .select($"doc_id", size(filter($"toks", t => length(t) > 0)).cast(LongType).as("ntok"))
          .crossJoin(broadcast(consts))
          .groupBy(decile("doc_id"))
          .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
        val newTypes = docs.select($"doc_id", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"tok").agg(min($"doc_id").as("fd"))
          .crossJoin(broadcast(consts))
          .groupBy(decile("fd")).agg(count(lit(1)).as("new_types"))
        val base = perDoc.join(newTypes, Seq("decile"), "left")
          .na.fill(0L, Seq("new_types"))
        base.as("a").join(base.as("b"), $"b.decile" <= $"a.decile")
          .groupBy($"a.decile".as("decile"))
          .agg(max($"a.n_docs").as("n_docs"), max($"a.n_tokens").as("n_tokens"),
            max($"a.new_types").as("new_types"),
            sum($"b.new_types").as("cum_types"),
            sum($"b.n_tokens").as("cum_tokens"))
          .withColumn("type_token_ratio",
            round($"cum_types".cast(DoubleType) / $"cum_tokens", 6))
          .orderBy($"decile")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        c AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
        perdoc AS (SELECT CAST(((doc_id - mn) * 10) // (mx - mn + 1) AS INT) AS decile,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(list_filter(w, s -> len(s) > 0))) AS BIGINT) AS n_tokens
                   FROM toksc, c GROUP BY 1),
        first_ AS (SELECT tok, MIN(doc_id) AS fd
                   FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u
                   WHERE len(tok) > 0 GROUP BY tok),
        nt AS (SELECT CAST(((fd - mn) * 10) // (mx - mn + 1) AS INT) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS new_types
               FROM first_, c GROUP BY 1),
        base AS (SELECT p.decile, p.n_docs, p.n_tokens,
                   CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types
                 FROM perdoc p LEFT JOIN nt USING (decile))
        SELECT a.decile, MAX(a.n_docs) AS n_docs, MAX(a.n_tokens) AS n_tokens,
          MAX(a.new_types) AS new_types,
          CAST(SUM(b.new_types) AS BIGINT) AS cum_types,
          CAST(SUM(b.n_tokens) AS BIGINT) AS cum_tokens,
          ROUND(CAST(SUM(b.new_types) AS DOUBLE) / SUM(b.n_tokens), 6) AS type_token_ratio
        FROM base a JOIN base b ON b.decile <= a.decile
        GROUP BY a.decile ORDER BY a.decile""")),

    // ---- train/val/test split leakage audit (q172, new r7) -----------
    // The eval-integrity check that must run AFTER q113's split
    // assignment: does identical content straddle split boundaries?
    // (A val/test doc whose exact text also sits in train silently
    // inflates every benchmark score.) Shares [[splitAssignCol]] with
    // q113 — the auditor and the assigner cannot drift apart — and
    // publishes per split: docs, leaked docs (content also present in
    // ANOTHER split), leak fraction. Zero is the healthy value and is
    // published as zero (an assertion, not an absence).
    //
    // Scale: content collapses to (xxhash64, split) counts first (8B
    // keys, docs never shuffle — the q25/q170 shape); per-hash split
    // fan-out is <= 3 rows, so the collect_list is bounded by the
    // split count, not the corpus; NO doc-level join-back — the
    // second exchange carries distinct contents only. The near-dup
    // form of this audit is q71/q81 decontamination (n-gram
    // containment); this is the exact-content gate. Oracle groups raw
    // text (the collision contract).
    Q("q172_split_leakage",
      (s, dir) => {
        import s.implicits._
        val d = documents(s, dir)
          .select(xxhash64($"text").as("h"), splitAssignCol.as("split"))
        val g = d.groupBy($"h", $"split").agg(count(lit(1)).as("n"))
        g.groupBy($"h")
          .agg(count(lit(1)).as("ns"), collect_list(struct($"split", $"n")).as("parts"))
          .select(explode($"parts").as("p"), $"ns")
          .groupBy($"p.split".as("split"))
          .agg(sum($"p.n").as("n_docs"),
            sum(when($"ns" > 1, $"p.n").otherwise(0L)).as("leaked_docs"))
          .withColumn("leaked_frac",
            round($"leaked_docs".cast(DoubleType) / $"n_docs", 6))
          .orderBy($"split")
      },
      Some(s"""
        WITH d AS (SELECT text, $splitAssignSql AS split FROM documents),
        g AS (SELECT text, split, CAST(COUNT(*) AS BIGINT) AS n
              FROM d GROUP BY 1, 2),
        ph AS (SELECT text, COUNT(*) AS ns FROM g GROUP BY text)
        SELECT g.split, CAST(SUM(g.n) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN ph.ns > 1 THEN g.n ELSE 0 END) AS BIGINT) AS leaked_docs,
          ROUND(CAST(SUM(CASE WHEN ph.ns > 1 THEN g.n ELSE 0 END) AS DOUBLE) / SUM(g.n), 6)
            AS leaked_frac
        FROM g JOIN ph USING (text)
        GROUP BY g.split ORDER BY split""")),

    // ---- val/test OOV rate vs train (q173, new r7) --------------------
    // The statistical complement of q172's exact-content gate: how much
    // of the val/test vocabulary (1-grams) and phrase space (2-grams)
    // was NEVER SEEN in train? Low OOV = the eval split measures
    // generalization on familiar surface forms; near-zero 2-gram OOV is
    // a contamination smell (eval text assembled from training
    // phrases); very high OOV = the split is out-of-domain for the
    // corpus. Published per (gram_n, split): distinct types, OOV types,
    // token instances, OOV instances, both fractions.
    //
    // Scale: gram instances ride ONE gram-keyed exchange with all three
    // split counts as conditional partial-combined sums (no per-split
    // scans, no join between splits); the val/test unpivot is a
    // map-side stack over that collapsed frame; the final aggregate is
    // 4 rows. Gram construction shares Dedup.gramArraySql (the q116
    // let-binding lesson) and the split rule shares [[splitAssignCol]]
    // with q113/q172.
    Q("q173_oov_rate",
      (s, dir) => {
        import s.implicits._
        val base = Dedup.withToks(documents(s, dir))
          .withColumn("split", splitAssignCol)
          .withColumn("w2", expr("filter(toks, __t -> length(__t) > 0)"))
        def grams(n: Int) = base
          .select(lit(n).as("n"), $"split",
            explode(expr(Dedup.gramArraySql(n, "w2"))).as("g"))
        val byGram = grams(1).union(grams(2))
          .groupBy($"n", $"g").agg(
            sum(when($"split" === "train", 1L).otherwise(0L)).as("c_train"),
            sum(when($"split" === "val", 1L).otherwise(0L)).as("c_val"),
            sum(when($"split" === "test", 1L).otherwise(0L)).as("c_test"))
        byGram
          .select($"n", $"c_train",
            expr("stack(2, 'val', c_val, 'test', c_test) AS (split, c)"))
          .filter($"c" > 0)
          .groupBy($"n", $"split").agg(
            count(lit(1)).as("n_types"),
            sum(when($"c_train" === 0, 1L).otherwise(0L)).as("oov_types"),
            sum($"c").as("n_instances"),
            sum(when($"c_train" === 0, $"c").otherwise(0L)).as("oov_instances"))
          .select($"n".as("gram_n"), $"split", $"n_types", $"oov_types",
            round($"oov_types".cast(DoubleType) / $"n_types", 6).as("type_oov_frac"),
            $"n_instances", $"oov_instances",
            round($"oov_instances".cast(DoubleType) / $"n_instances", 6).as("inst_oov_frac"))
          .orderBy($"gram_n", $"split")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        t2 AS (SELECT doc_id, list_filter(w, s -> len(s) > 0) AS w2 FROM toksc),
        sp AS (SELECT doc_id, $splitAssignSql AS split FROM documents),
        g1 AS (SELECT sp.split, 1 AS n, w2[i] AS g
               FROM t2 JOIN sp USING (doc_id),
                    UNNEST(range(1, len(w2) + 1)) AS u(i)),
        g2 AS (SELECT sp.split, 2 AS n, w2[i] || ' ' || w2[i+1] AS g
               FROM t2 JOIN sp USING (doc_id),
                    UNNEST(range(1, len(w2))) AS u(i)),
        bg AS (SELECT n, g,
                 CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
                 CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_val,
                 CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c_test
               FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) i GROUP BY n, g),
        lv AS (SELECT n, 'val' AS split, c_train, c_val AS c FROM bg
               UNION ALL SELECT n, 'test', c_train, c_test FROM bg)
        SELECT CAST(n AS INT) AS gram_n, split,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(CASE WHEN c_train = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
          ROUND(CAST(SUM(CASE WHEN c_train = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
            AS type_oov_frac,
          CAST(SUM(c) AS BIGINT) AS n_instances,
          CAST(SUM(CASE WHEN c_train = 0 THEN c ELSE 0 END) AS BIGINT) AS oov_instances,
          ROUND(CAST(SUM(CASE WHEN c_train = 0 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 6)
            AS inst_oov_frac
        FROM lv WHERE c > 0
        GROUP BY n, split ORDER BY gram_n, split"""))
  )
}
