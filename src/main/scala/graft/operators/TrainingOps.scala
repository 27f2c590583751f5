package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after dedup [EXT]: intra-document repetition signals (Gopher-style
  * quality filtering, Rae et al. 2021 §A1.1), explicit n-gram-Jaccard
  * near-dup pairs via a document-frequency-capped inverted index
  * (prefix/frequency filtering as in Bayardo et al., WWW '07),
  * benchmark decontamination by n-gram overlap (GPT-3 appendix C
  * style), per-source document caps, and deterministic stratified
  * sampling.
  *
  * Scale notes per operator are on each query; the common theme: no
  * all-pairs comparisons (candidates always come from an equi-join on
  * a bounded-fan-out key), benchmark gram sets are broadcast (they are
  * small by construction — eval suites, not corpora), and sampling is
  * a map-only hash filter, never a global sort.
  */
object TrainingOps {
  import Tables._

  /** Oracle-side n-gram CTE body over `toksc(doc_id, w)`. */
  private def gramSql(n: Int): String = {
    val parts = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"SELECT doc_id, $parts AS g FROM toksc, UNNEST(range(1, len(w) - ${n - 2})) AS t(i)"
  }

  private val toksCte = Dedup.toksCteSql

  /** Doc-keyed PPJoin state shared by q125/q128: ONE aggregation holds
    * each doc's distinct shingle hashes as a (df, hash)-sorted struct
    * array, so the rarity prefix (q125), the rare-gram candidates
    * (q128) and the exact set-arithmetic verify all read this single
    * exchange — the naive form re-shuffles the corpus per stage (a df
    * join, a per-doc window, a separate collect_set pass: two extra
    * doc-keyed exchanges and a window sort, measured 3.0 s at sf0.1).
    * Skew-safe by construction: df is a partial-combined count (never
    * a posting list — a corpus-stopword shingle stays one counter, not
    * a corpus-sized array row) and each state row is bounded by its
    * OWN doc's distinct-shingle count. Checkpoints: dshH because the
    * df branch and the join branch must read one materialization;
    * the state because prefix/rare and both verify sides re-read it. */
  private def ppState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dshH = Dedup.shingles(documents(s, dir))
      .select($"doc_id", xxhash64($"s").as("sh")).distinct()
      .localCheckpoint(true)
    val df = dshH.groupBy($"sh").agg(count(lit(1)).as("dfc"))
    dshH.join(df, "sh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"dfc", $"sh"))).as("a"))
      .withColumn("n", size($"a").cast(LongType))
      .localCheckpoint(true)
  }

  /** q125's lossless exact J >= 0.5 pair set (unordered), shared with
    * q164's recall measurement so "ground truth" and "the exact path"
    * are one construction.
    *
    * Prefix entries carry (position, doc size) so the two other
    * PPJoin prunes apply BEFORE the pair shuffle:
    *  - length filter: J >= 1/2 forces 2*min(na,nb) >= max(na,nb)
    *    — pruned inside the join condition;
    *  - positional filter: for a pair's FIRST shared prefix gram
    *    (min position — same gram achieves both mins, since prefixes
    *    are heads of ONE global order and any earlier shared gram
    *    would contradict minimality), the overlap is at most
    *    1 + min(na-pa, nb-pb); J >= 1/2 needs 3*overlap >= na+nb.
    *    Pure integers — no float boundary.
    * Both prune CANDIDATES only; the theorem keeps the survivor set
    * lossless (TrainingOpsSpec's brute-force equality).
    *
    * The final threshold is on RAW J, not the rounded publication
    * value: the prefix-filter theorem guarantees candidate recall
    * only for raw J >= 0.5, so a pair with raw J in [0.4999995, 0.5)
    * that ROUNDS to 0.5 is not guaranteed to be a candidate — and the
    * two engines order prefixes differently, so one could surface it
    * and the other miss it, breaking both the hash compare and the
    * lossless claim. The raw-double compare is itself exact at this
    * boundary: jraw >= 0.5 iff the integer inequality 3*i >= na + nb
    * (0.5's boundary case i/(2i) is a power-of-two quotient,
    * represented exactly). */
  /** Oracle twin of [[ppjoinPairs]], ending in `truth(ida, idb,
    * jacc)` — the lossless exact raw-J >= 0.5 pair set. ONE source of
    * truth for q125's published pairs and q164's recall denominator.
    * Requires `dsh`/`card` (Dedup.dshCardCteSql) in scope; CTE names
    * are t-prefixed where they would collide with the q27 LSH chain
    * so the two compose in q164. */
  private val ppTruthCteSql: String = """
        df AS (SELECT s, COUNT(*) AS dfc FROM dsh GROUP BY s),
        ranked AS (SELECT dsh.doc_id, dsh.s,
                     ROW_NUMBER() OVER (PARTITION BY dsh.doc_id ORDER BY df.dfc, dsh.s) AS rk,
                     COUNT(*) OVER (PARTITION BY dsh.doc_id) AS n
                   FROM dsh JOIN df ON dsh.s = df.s),
        pfx AS (SELECT doc_id, s FROM ranked WHERE rk <= n - (n + 1) // 2 + 1),
        tcand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
                  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id),
        tinter AS (SELECT c.ida, c.idb, COUNT(*) AS i FROM tcand c
                   JOIN dsh x ON x.doc_id = c.ida
                   JOIN dsh y ON y.doc_id = c.idb AND x.s = y.s
                   GROUP BY c.ida, c.idb),
        truth AS (SELECT t.ida, t.idb,
                    ROUND(CAST(t.i AS DOUBLE) / (ca.n + cb.n - t.i), 6) AS jacc
                  FROM tinter t
                  JOIN card ca ON t.ida = ca.doc_id
                  JOIN card cb ON t.idb = cb.doc_id
                  WHERE 3 * t.i >= ca.n + cb.n)"""

  private def ppjoinPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = ppState(s, dir)
    val prefix = st.select($"doc_id", $"n", posexplode(expr(
        "slice(transform(a, x -> x.sh), 1, size(a) - (size(a) + 1) div 2 + 1)")))
      .select($"doc_id", $"n", ($"pos" + 1).as("p"), $"col".as("sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 2 >= $"b.n" && $"b.n" * 2 >= $"a.n")
      .groupBy($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
      .agg(max($"a.n").as("na"), max($"b.n").as("nb"),
        min($"a.p").as("pa"), min($"b.p").as("pb"))
      .filter(lit(3) * (lit(1) + least($"na" - $"pa", $"nb" - $"pb"))
        >= $"na" + $"nb")
      .select($"ida", $"idb")
    Dedup.verifyJaccardSets(cand,
        st.select($"doc_id", expr("transform(a, x -> x.sh)").as("shs"), $"n"))
      .filter($"jraw" >= 0.5)
      .select($"ida", $"idb", round($"jraw", 6).as("jacc"))
  }

  def queries: Vector[Q] = Vector(
    // ---- intra-doc repetition ratios (Gopher quality signals) --------
    // rep_n = 1 - distinct_ngrams / total_ngrams, the "fraction of
    // duplicate n-grams" filter signal. Repetition is INTRA-document,
    // so the whole computation is row-local: build each doc's gram
    // array and compare size(array_distinct(g)) to size(g) in the
    // projection. MAP-ONLY — no gram ever leaves its row, the only
    // exchange in the plan is the output sort. (An earlier explode →
    // 3-level aggregate version shuffled the corpus's full gram stream
    // three times for the same answer.)
    Q("q69_repetition_ratio",
      (s, dir) => {
        import s.implicits._
        // gram arrays land in named columns so each is built ONCE per
        // row — transform() is CodegenFallback, so Catalyst would not
        // eliminate a repeated subexpression
        def rep(g: String): String =
          s"round(1.0d - CAST(size(array_distinct($g)) AS DOUBLE) / size($g), 6)"
        // r14 (guide §2.6): the 2-gram/3-gram builds are interpreted
        // (CodegenFallback transform) at ~0.6 ms/doc — 3 core-s that
        // the single-row-group scan ran on ONE task. Spreading the
        // 1.5 MB of docs is the q150 discipline; the final
        // orderBy(doc_id) exchange was already there.
        Dedup.withToks(documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
          // docs need >= 3 tokens to carry BOTH gram sizes
          .filter(size($"toks") >= 3)
          .withColumn("g2", expr(Dedup.gramArraySql(2)))
          .withColumn("g3", expr(Dedup.gramArraySql(3)))
          .select($"doc_id", expr(rep("g2")).as("rep2"), expr(rep("g3")).as("rep3"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        g2 AS (${gramSql(2)}),
        g3 AS (${gramSql(3)}),
        s2 AS (SELECT doc_id, ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS rep2 FROM g2 GROUP BY doc_id),
        s3 AS (SELECT doc_id, ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS rep3 FROM g3 GROUP BY doc_id)
        SELECT s2.doc_id AS doc_id, rep2, rep3 FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
        ORDER BY doc_id""")),

    // ---- explicit n-gram Jaccard near-dup pairs ----------------------
    // The non-probabilistic sibling of q27: candidates from an
    // inverted index on shingles whose document frequency is <= DF_CAP
    // (frequency filtering) instead of minhash banding; verification
    // is the exact shingle-set Jaccard shared with q27/q58/q66.
    // Scale: a df-capped shingle joins at most DF_CAP docs, so the
    // candidate join fan-out per key is <= DF_CAP*(DF_CAP-1)/2 — skew
    // is bounded by construction, never by data. Candidates must share
    // >= 2 capped shingles (positional-filtering tightening: docs
    // carry many sub-cap shingles each, and a Jaccard >= 0.5 pair
    // shares most of both docs' shingle sets, so a single shared rare
    // shingle is coincidence, not near-dup evidence — at sf0.1 this
    // cuts verified-join volume 52x). Pairs whose every shared shingle
    // is more common than DF_CAP are not candidates; that is the
    // standard trade (stopword-like shingles carry no near-dup
    // evidence) and the minhash path (q27) has no such cap.
    Q("q70_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        // r4: the whole index pipeline runs on 64-bit shingle hashes —
        // the distinct, the df count, the inverted-index self-join and
        // the set verify all exchange (id, int64) rows, never shingle
        // text (same collision contract as Dedup.verifyJaccard: the
        // oracle keeps raw text, so a collision fails the gate loudly)
        // lazily checkpointed (the q200 "feeds card, candidates AND
        // verify" idiom): the executed plan otherwise materializes the
        // shingle explode + distinct 3-4x — ReusedExchange only dedupes
        // two of the consumers (measured, PlanDump metrics r13)
        val dshH = Dedup.shingles(documents(s, dir))
          .select($"doc_id", xxhash64($"s").as("sh")).distinct()
          .localCheckpoint(false)
        val rare = dshH.join(
          dshH.groupBy($"sh").agg(count(lit(1)).as("dfc")).filter($"dfc" <= 8), "sh")
        val cand = rare.as("a").join(rare.as("b"),
            $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
          .agg(count(lit(1)).as("shared"))
          .filter($"shared" >= 2)
          .select($"ida", $"idb")
        Dedup.verifyJaccardHashed(cand, dshH)
          .select($"ida", $"idb", round($"jraw", 6).as("jacc"))
          .filter($"jacc" >= 0.5)
          .orderBy($"ida", $"idb")
      },
      Some(s"""${Dedup.shingleCte},${Dedup.rareShingleInterCteSql}
        SELECT ida, idb, ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jacc
        FROM inter JOIN card ca ON ida = ca.doc_id JOIN card cb ON idb = cb.doc_id
        WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        ORDER BY ida, idb""")),

    // ---- benchmark decontamination (n-gram overlap) ------------------
    // Flags corpus docs sharing any 5-gram with the benchmark slice
    // (source = 'src0' stands in for an eval suite). The benchmark
    // gram set is DISTINCT'd then broadcast — eval suites are MBs
    // while the corpus is TBs, so the corpus side never shuffles:
    // scan -> explode -> broadcast semi-join -> distinct doc_ids.
    Q("q71_decontaminate",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val g5 = Dedup.withToks(docs)
          .select($"doc_id", $"source", explode(expr(Dedup.gramArraySql(5))).as("g"))
        val bench = g5.filter($"source" === "src0").select($"g").distinct()
        val contaminated = g5.filter($"source" =!= "src0")
          .join(broadcast(bench), "g")
          .select($"doc_id").distinct()
        docs.join(contaminated, "doc_id")
          .select($"doc_id", $"lang", $"source")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        g5 AS (SELECT doc_id, source, ${(0 to 4).map(j => s"w[i + $j]").mkString(" || ' ' || ")} AS g
               FROM toksc, UNNEST(range(1, len(w) - 3)) AS t(i)),
        bench AS (SELECT DISTINCT g FROM g5 WHERE source = 'src0'),
        contaminated AS (SELECT DISTINCT doc_id FROM g5
                         WHERE source <> 'src0' AND g IN (SELECT g FROM bench))
        SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
        FROM documents d JOIN contaminated c ON d.doc_id = c.doc_id
        ORDER BY doc_id""")),

    // ---- per-source document caps ------------------------------------
    // Domain-cap curation: keep at most CAP docs per source, preferring
    // longer docs (n_chars DESC, doc_id tiebreak). Low-cardinality
    // window partitions are normally a skew wall, but Spark 4 plans
    // `row_number <= k` filters as WindowGroupLimit(Partial) BEFORE the
    // exchange — each map task forwards at most CAP rows per source, so
    // the per-source reduce task sees <= CAP * num_input_partitions
    // rows regardless of corpus size. The plan guard in
    // RegistrySmokeSpec pins that shape; no hand-rolled salting needed.
    Q("q72_source_caps",
      (s, dir) => {
        import s.implicits._
        val cap = 10
        val docs = documents(s, dir)
        val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
        val kept = docs.withColumn("rn", row_number().over(w))
          .filter($"rn" <= cap)
        docs.groupBy($"source").agg(count(lit(1)).as("total"))
          .join(kept.groupBy($"source")
              .agg(count(lit(1)).as("kept"),
                   sum($"n_chars").cast(LongType).as("kept_chars")), "source")
          .select($"source", $"kept", ($"total" - $"kept").as("dropped"), $"kept_chars")
          .orderBy($"source")
      },
      Some("""
        WITH ranked AS (SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
             FROM documents)
        SELECT source,
               CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
               CAST(SUM(CASE WHEN rn > 10 THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
               CAST(SUM(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM ranked GROUP BY source ORDER BY source""")),

    // ---- deterministic stratified sampling ---------------------------
    // Per-language sampling rates (en 1/2, de+zh 1/4, es+fr 1/8) via
    // md5-hash thresholding on doc_id — the stratified form of q24's
    // uniform hash sample. Map-only filter + one aggregate: no global
    // sort, no per-stratum repartition; reproducible across runs and
    // engines because membership is a pure function of the row.
    Q("q73_stratified_sample",
      (s, dir) => {
        import s.implicits._
        val h = substring(md5($"doc_id".cast(StringType)), 1, 1)
        val keep =
          when($"lang" === "en", h.isin("0", "1", "2", "3", "4", "5", "6", "7"))
            .when($"lang".isin("de", "zh"), h.isin("0", "1", "2", "3"))
            .when($"lang".isin("es", "fr"), h.isin("0", "1"))
            .otherwise(lit(false))
        documents(s, dir).filter(keep)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sampled"),
               sum($"n_chars").cast(LongType).as("chars_sampled"))
          .orderBy($"lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
        FROM documents
        WHERE CASE
            WHEN lang = 'en' THEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
            WHEN lang IN ('de', 'zh') THEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
            WHEN lang IN ('es', 'fr') THEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
            ELSE FALSE END
        GROUP BY lang ORDER BY lang""")),

    // ---- token-budget shard packing ----------------------------------
    // Concatenate-then-split sharding: docs stream per source in
    // doc_id order; a doc belongs to the shard where its token offset
    // STARTS (shard = start_offset div BUDGET) — the deterministic
    // chunking used to build fixed-token training shards. All integer
    // arithmetic, so the engines agree bit-for-bit.
    //
    // The running sum is a DISTRIBUTED TWO-PHASE PREFIX SUM, not a
    // per-source window: a single source can be a whole crawl dump,
    // and `sum over (partition by source order by doc_id)` would
    // serialize it into one task. Instead (1) docs bucket by
    // doc_id DIV 4096 — each (source, bucket) window is bounded at
    // 4096 rows; (2) per-bucket token totals (tiny frame) get a
    // running offset per source; (3) the offset joins back on
    // (source, bucket) — the same key the big side is already
    // partitioned by, so phase 3 adds no exchange of the corpus.
    // cum = in-bucket prefix + preceding-buckets offset, exactly.
    Q("q74_shard_pack",
      (s, dir) => {
        import s.implicits._
        val t = documents(s, dir)
          .withColumn("n_tokens", size(split(lower($"text"), "\\W+")).cast(LongType))
          .withColumn("bkt", expr("doc_id DIV 4096"))
        val wIn = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy($"source").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy($"source", $"bkt").agg(sum($"n_tokens").as("bt"))
          .withColumn("off", coalesce(sum($"bt").over(wOff), lit(0L)))
          .select($"source", $"bkt", $"off")
        t.withColumn("cum_in", sum($"n_tokens").over(wIn))
          .join(offsets, Seq("source", "bkt"))
          .withColumn("cum", $"cum_in" + $"off")
          .withColumn("shard", expr("CAST((cum - n_tokens) DIV 500 AS BIGINT)"))
          .groupBy($"source", $"shard")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n_tokens").cast(LongType).as("shard_tokens"))
          .orderBy($"source", $"shard")
      },
      Some("""
        WITH t AS (SELECT doc_id, source,
               len(string_split_regex(lower(text), '\W+')) AS n_tokens FROM documents),
        c AS (SELECT source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM t)
        SELECT source, CAST((cum - n_tokens) // 500 AS BIGINT) AS shard,
               COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM c GROUP BY source, shard ORDER BY source, shard""")),

    // ---- fixed-size stratified sample --------------------------------
    // The fixed-N sibling of q73's rate-based sample: per stratum keep
    // the N docs with the SMALLEST md5(doc_id) — a uniform, seedless,
    // reproducible choice (hash order is independent of doc order).
    // row_number <= N plans as WindowGroupLimit(Partial): each map
    // task forwards at most N rows per lang, so the sample never
    // concentrates a stratum's full slice in one task.
    Q("q75_stratified_topn",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy($"h")
        documents(s, dir)
          .withColumn("h", md5($"doc_id".cast(StringType)))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 50)
          .select($"lang", $"rk", $"doc_id")
          .orderBy($"lang", $"rk")
      },
      Some("""
        SELECT lang, rk, doc_id FROM (
          SELECT lang, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY MD5(CAST(doc_id AS VARCHAR))) AS rk
          FROM documents) t
        WHERE rk <= 50 ORDER BY lang, rk""")),

    // ---- incremental near-dedup against an existing corpus -----------
    // The daily-ingest case: fingerprint the NEW batch (sources
    // src10+) and drop docs within hamming <= 1 of any EXISTING doc
    // (src0..src9), keeping the rest. Same exact-recall machinery as
    // q61: the 64-bit simhash splits into 2 unsigned half-bands, and
    // any pair at hamming <= 1 agrees on a whole half (pigeonhole), so
    // the (band, half) equi-join of new-vs-old surfaces every match;
    // popcount verifies; an anti-join keeps survivors. At index scale
    // the old side's fingerprints are a precomputed 8-byte-per-doc
    // table — the corpus text is never re-read. Token-less new docs
    // have no fingerprint, cannot match, and survive (exact dedup
    // owns them, as in q61).
    Q("q76_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
          .withColumn("grp", expr("try_cast(substring(source, 4, 100) AS INT)"))
        val sims = TextAnalysis.withToksNe(docs)
          .filter(size($"toks_ne") > 0)
          .select($"doc_id", $"grp", expr("simhash64(toks_ne)").as("simhash"))
        def bandsOf(df: DataFrame): DataFrame = df.selectExpr("doc_id", "simhash",
          Dedup.halfBandsSql("simhash"))
        val matched = bandsOf(sims.filter($"grp" >= 10)).as("nb")
          .join(bandsOf(sims.filter($"grp" < 10)).as("ob"),
            $"nb.band" === $"ob.band" && $"nb.half" === $"ob.half")
          .filter(expr("bit_count(nb.simhash ^ ob.simhash) <= 1"))
          .select($"nb.doc_id".as("doc_id")).distinct()
        docs.filter($"grp" >= 10)
          .join(matched, Seq("doc_id"), "left_anti")
          .select($"doc_id", $"source")
          .orderBy($"doc_id")
      },
      Some(s"""${Dedup.simhash64Cte},
        src AS (SELECT s2.doc_id, s2.u, s2.simhash,
                  TRY_CAST(SUBSTRING(d.source, 4) AS INT) AS grp
                FROM sims s2
                JOIN documents d ON d.doc_id = s2.doc_id
                JOIN toksc tc ON tc.doc_id = s2.doc_id WHERE len(tc.toks) > 0),
        oband AS (SELECT doc_id, simhash, 0 AS band, CAST(u % 4294967296 AS BIGINT) AS half
                  FROM src WHERE grp < 10
                  UNION ALL
                  SELECT doc_id, simhash, 1 AS band, CAST(u // 4294967296 AS BIGINT) AS half
                  FROM src WHERE grp < 10),
        nband AS (SELECT doc_id, simhash, 0 AS band, CAST(u % 4294967296 AS BIGINT) AS half
                  FROM src WHERE grp >= 10
                  UNION ALL
                  SELECT doc_id, simhash, 1 AS band, CAST(u // 4294967296 AS BIGINT) AS half
                  FROM src WHERE grp >= 10),
        matched AS (SELECT DISTINCT n.doc_id FROM nband n
                    JOIN oband o ON n.band = o.band AND n.half = o.half
                    WHERE bit_count(xor(n.simhash, o.simhash)) <= 1)
        SELECT d.doc_id AS doc_id, d.source AS source FROM documents d
        WHERE TRY_CAST(SUBSTRING(d.source, 4) AS INT) >= 10
          AND d.doc_id NOT IN (SELECT doc_id FROM matched)
        ORDER BY doc_id""")),

    // ---- quality-percentile gate -------------------------------------
    // "Drop the bottom quality decile per language" — the rank-based
    // form of quality filtering (fixed thresholds go stale as the
    // corpus shifts; deciles don't). NTILE over a TOTAL order
    // (quality, doc_id) is deterministic in both engines. Shares the
    // q30 scoring frame; the window partitions by lang — skew-bounded
    // the same way as every per-lang operator here, and NTILE needs
    // the full stratum ordered anyway (rank semantics, not top-k).
    Q("q77_quality_gate",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy($"quality", $"doc_id")
        TextAnalysis.qualityScored(s, dir)
          .withColumn("decile", ntile(10).over(w))
          .filter($"decile" > 1)
          .groupBy($"lang")
          .agg(count(lit(1)).as("kept"),
               dsum($"quality", 6).as("quality_sum"),
               sum($"n_tokens").cast(LongType).as("tokens_kept"))
          .orderBy($"lang")
      },
      Some(s"""
        ${TextAnalysis.qualityCte}
        SELECT lang, COUNT(*) AS kept, ${dsumSql("quality", 6)} AS quality_sum,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
        FROM (SELECT lang, quality, n_tokens,
                NTILE(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS decile
              FROM qscore) t
        WHERE decile > 1
        GROUP BY lang ORDER BY lang""")),

    // ---- per-source quality-yield curve (q194, r9) --------------------
    // q77 answers "drop the bottom decile"; this prices EVERY cut: for
    // each source and each decile threshold d, how many documents and
    // tokens survive keeping deciles >= d — the capacity-planning
    // table a mixture designer reads to pick per-source quality bars
    // under a token budget (cut source A at d=4 and source B at d=2
    // to hit N tokens). Deciles are per SOURCE over the total order
    // (quality, doc_id) — q77's determinism contract — so the curve
    // is stable as the corpus shifts where fixed thresholds go stale.
    // Token-less docs are out of scope (the qualityScored guard).
    //
    // Scale: the decile window partitions by source (the per-source
    // stratum must be ordered anyway — rank semantics); everything
    // after is the |sources|×10 metadata frame. One corpus-scale
    // exchange total.
    Q("q194_quality_yield",
      (s, dir) => {
        import s.implicits._
        val src = documents(s, dir).select($"doc_id", $"source")
        val scored = TextAnalysis.qualityScored(s, dir).join(src, "doc_id")
        val w = Window.partitionBy($"source").orderBy($"quality", $"doc_id")
        val perDec = scored.withColumn("decile", ntile(10).over(w))
          .groupBy($"source", $"decile")
          .agg(count(lit(1)).as("docs_in_decile"),
            sum($"n_tokens").cast(LongType).as("tokens_in_decile"))
        val cw = Window.partitionBy($"source").orderBy($"decile".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy($"source")
        perDec
          .withColumn("docs_kept", sum($"docs_in_decile").over(cw))
          .withColumn("tokens_kept", sum($"tokens_in_decile").over(cw))
          .withColumn("tokens_total", sum($"tokens_in_decile").over(tot))
          .select($"source", $"decile".as("cut_keep_from"),
            $"docs_in_decile", $"tokens_in_decile", $"docs_kept", $"tokens_kept",
            round($"tokens_kept".cast(DoubleType) / $"tokens_total", 6).as("token_yield"))
          .orderBy($"source", $"cut_keep_from")
      },
      Some(s"""
        ${TextAnalysis.qualityCte},
        dsrc AS (SELECT q.doc_id, q.quality, q.n_tokens, d.source
                 FROM qscore q JOIN documents d USING (doc_id)),
        dec AS (SELECT source, n_tokens,
                  NTILE(10) OVER (PARTITION BY source ORDER BY quality, doc_id) AS decile
                FROM dsrc),
        per_dec AS (SELECT source, decile,
                      CAST(COUNT(*) AS BIGINT) AS docs_in_decile,
                      CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_decile
                    FROM dec GROUP BY source, decile)
        SELECT source, CAST(decile AS INT) AS cut_keep_from,
          docs_in_decile, tokens_in_decile,
          CAST(SUM(docs_in_decile) OVER cum AS BIGINT) AS docs_kept,
          CAST(SUM(tokens_in_decile) OVER cum AS BIGINT) AS tokens_kept,
          ROUND(CAST(SUM(tokens_in_decile) OVER cum AS DOUBLE)
            / SUM(tokens_in_decile) OVER (PARTITION BY source), 6) AS token_yield
        FROM per_dec
        WINDOW cum AS (PARTITION BY source ORDER BY decile DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY source, cut_keep_from""")),

    // ---- corpus stats (dataset card) ---------------------------------
    // The one-row summary a pipeline publishes with a training set.
    // Each distinct-count runs as its OWN single-column aggregation
    // and the 1-row results cross-join — one Expand-free pass per
    // column-pruned scan instead of one full-width scan Expanded x4
    // (the q41 lesson: n distinct aggregates in one GROUP BY multiply
    // the shuffled rows by n+1).
    Q("q78_corpus_stats",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        // empty-token filter matches q31/withToksNe, so the card's
        // n_tokens agrees with the engine's own token-stats query
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(array_remove(split(lower($"text"), "\\W+"), "")).cast(LongType)).as("n_tokens"),
          sum($"n_chars").cast(LongType).as("n_chars"),
          davg($"n_chars", 4).as("avg_chars"))
        // countDistinct, not distinct().count(): COUNT(DISTINCT col)
        // excludes NULLs in both engines; distinct() would count a
        // NULL group and silently diverge from the oracle
        val langs = docs.agg(countDistinct($"lang").as("n_langs"))
        val sources = docs.agg(countDistinct($"source").as("n_sources"))
        val texts = docs.agg(countDistinct($"text").as("n_unique_texts"))
        base.crossJoin(langs).crossJoin(sources).crossJoin(texts)
          .select($"n_docs", $"n_tokens", $"n_chars", round($"avg_chars", 4).as("avg_chars"),
            $"n_langs", $"n_sources", $"n_unique_texts",
            ($"n_docs" - $"n_unique_texts").as("exact_dup_docs"))
      },
      Some(s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               ROUND(${davgSql("n_chars", 4)}, 4) AS avg_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
               CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS exact_dup_docs
        FROM documents""")),

    // ---- prefix-filtered exact Jaccard self-join (PPJoin-style) ------
    // The LOSSLESS complement to q70's DF-capped index: every pair with
    // verified 3-gram Jaccard >= 0.5 is found, with no frequency cap to
    // miss stopword-heavy near-dups. The prefix-filter theorem does the
    // pruning instead: under ANY global shingle order, a pair with
    // J >= t must share a shingle inside each doc's first
    // n - ceil(t*n) + 1 shingles (J >= t implies |A∩B| >= ceil(t*|A|)
    // and >= ceil(t*|B|); pigeonhole does the rest). Ordering by
    // (document frequency ASC, hash) makes those prefixes the RAREST
    // shingles, so the inverted index only ever posts prefix entries —
    // the common-shingle lists that dominate an uncapped index never
    // enter the join. The two engines order ties differently (64-bit
    // hash here, raw text in the oracle) but losslessness holds under
    // each engine's own order, and the exact-Jaccard verify makes the
    // published set identical. ceil(t*n) for t=0.5 is the pure-integer
    // (n+1) div 2 — no float boundary can flip a prefix length.
    // Scale: df is one shingle-keyed count (partial-combines); the
    // prefix slice bounds each doc's posted entries to ~n/2; candidate
    // volume is driven by truly-rare shingles, not corpus stopwords;
    // the length and positional filters (in-body comment) prune
    // candidates further without touching the survivor set.
    Q("q125_ppjoin",
      (s, dir) => ppjoinPairs(s, dir).orderBy(col("ida"), col("idb")),
      Some(s"""${Dedup.shingleCte},
        ${Dedup.dshCardCteSql},
        $ppTruthCteSql
        SELECT ida, idb, jacc FROM truth
        ORDER BY ida, idb""")),

    // ---- LSH recall, oracle-gated (q164) -----------------------------
    // Puts the engine's flagship dedup RECALL CONTRACT under the
    // driver's gate: q27's MinHash-LSH pair set measured against the
    // lossless exact J >= 0.5 ground truth (the shared ppjoinPairs
    // construction — "ground truth" and "the exact path" are one
    // code path, so the measurement cannot drift from the method it
    // audits). Until now the r5 band-rework recall (>= 96.6% at
    // J ~ 0.95, docs/SCALING.md) lived in docs; this row re-measures
    // it every round, cross-engine. The rounding boundary is
    // honest: q27 publishes pairs whose ROUNDED J >= 0.5, the truth
    // thresholds RAW J >= 0.5, so a [0.4999995, 0.5) pair can be an
    // LSH "extra" — hits are counted by pair identity against truth,
    // and an empty-truth corpus defines recall as vacuous 1.0.
    //
    // Scale: the two pair pipelines are exactly q27's and q125's
    // (their contracts apply unchanged); the comparison adds one
    // pair-keyed join between two output-sized frames and three 1-row
    // count scalars (crossJoined broadcast-style, whitelisted).
    Q("q164_lsh_recall",
      (s, dir) => {
        import s.implicits._
        // both pair frames feed a count aggregate AND the hits join —
        // lazily checkpointed so the candidate-generation and verify
        // pipelines above them run once, not per reference
        val truth = ppjoinPairs(s, dir).select($"ida", $"idb")
          .localCheckpoint(false)
        val lsh = Dedup.nearDupPairs(s, dir)
          .filter(round($"jraw", 6) >= 0.5).select($"ida", $"idb")
          .localCheckpoint(false)
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
          .crossJoin(truth.join(lsh, Seq("ida", "idb"))
            .agg(count(lit(1)).as("n_hits")))
          .select($"n_true", $"n_lsh", $"n_hits",
            when($"n_true" === 0, lit(1.0))
              .otherwise(round($"n_hits".cast(DoubleType) / $"n_true", 6))
              .as("recall"))
      },
      Some(s"""${Dedup.shingleCte}, ${Dedup.signatureSql},
        ${Dedup.bandsCteSql},
        ${Dedup.dshCardCteSql},
        ${Dedup.lshPairsCteSql},
        $ppTruthCteSql,
        hits AS (SELECT tr.ida, tr.idb FROM truth tr JOIN lshp USING (ida, idb))
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM lshp) AS n_lsh,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
          CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1.0
               ELSE ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth), 6) END AS recall""")),

    // ---- asymmetric containment pairs (quote/excerpt detection) ------
    // Jaccard misses the "small doc quoted inside a much bigger doc"
    // case (i/(a+b-i) stays low when b >> a); containment i/min(a,b)
    // catches it. Direction is published explicitly: the doc with the
    // SMALLER distinct-shingle set (ties -> lower doc_id) is the
    // contained side. Candidate generation applies q70's DF-cap rule
    // (df <= 8) over the shared PPJoin state with the >= 2
    // shared-rare-shingles prefilter (the same documented trade:
    // shingles shared by > 8 docs carry no containment evidence); the
    // verify is exact set arithmetic on 64-bit shingle hashes (set ops
    // are hash-invariant; the oracle keeps raw text so a collision
    // fails the gate loudly).
    // Scale: one doc-keyed state exchange (ppState), rare-gram pair
    // join, pair-keyed verify; no all-pairs anywhere — and the 10x
    // dup-heavy sweep shows the cap FILTERING replica shingles
    // (df = 10 > 8), which is exactly its role.
    Q("q128_containment",
      (s, dir) => {
        import s.implicits._
        val st = ppState(s, dir)
        val rare = st.select($"doc_id", explode(expr(
          "transform(filter(a, x -> x.dfc <= 8), x -> x.sh)")).as("sh"))
        val cand = rare.as("a").join(rare.as("b"),
            $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
          .agg(count(lit(1)).as("shared"))
          .filter($"shared" >= 2)
          .select($"ida", $"idb")
        // VALUE-sorted set projection for the intersect_count two-
        // pointer kernel (ppState's `a` is df-ordered for the prefix
        // slice; the verify wants value order — one cheap per-doc sort)
        val sets = st.select($"doc_id",
          sort_array(expr("transform(a, x -> x.sh)")).as("shs"), $"n")
        val scored = cand
          .join(sets.as("x").hint("shuffle_hash"), $"ida" === $"x.doc_id")
          .join(sets.as("y").hint("shuffle_hash"), $"idb" === $"y.doc_id")
          .select($"ida", $"idb", $"x.n".as("na"), $"y.n".as("nb"),
            GraftFunctions.intersect_count($"x.shs", $"y.shs").as("i"))
        scored
          .withColumn("cont", round($"i".cast(DoubleType) / least($"na", $"nb"), 6))
          .filter($"cont" >= 0.8)
          .select(
            when($"na" <= $"nb", $"ida").otherwise($"idb").as("contained_id"),
            when($"na" <= $"nb", $"idb").otherwise($"ida").as("container_id"),
            least($"na", $"nb").as("n_contained"),
            greatest($"na", $"nb").as("n_container"),
            $"cont".as("containment"))
          .orderBy($"contained_id", $"container_id")
      },
      Some(s"""${Dedup.shingleCte},${Dedup.rareShingleInterCteSql},
        scored AS (SELECT i.ida, i.idb, ca.n AS na, cb.n AS nb, i.i,
                     ROUND(CAST(i.i AS DOUBLE) / LEAST(ca.n, cb.n), 6) AS cont
                   FROM inter i JOIN card ca ON i.ida = ca.doc_id
                   JOIN card cb ON i.idb = cb.doc_id)
        SELECT CASE WHEN na <= nb THEN ida ELSE idb END AS contained_id,
               CASE WHEN na <= nb THEN idb ELSE ida END AS container_id,
               LEAST(na, nb) AS n_contained,
               GREATEST(na, nb) AS n_container,
               cont AS containment
        FROM scored WHERE cont >= 0.8
        ORDER BY contained_id, container_id""")),

    // ---- tf-idf weighted lexical cosine pairs (over shingles) --------
    // The WEIGHTED lexical similarity completing the triangle: q70/q125
    // treat shingles as SETS (every gram counts the same), q33 weights
    // EMBEDDING dimensions; this weights lexical overlap by rarity and
    // multiplicity. The unit is the 3-gram shingle, NOT the token —
    // this corpus (like any bounded-vocabulary domain) has NO rare
    // tokens (31 distinct tokens, min df 25, measured), so rarity
    // lives in token COMBINATIONS; same reason the whole q70 family
    // shingles first. Weights are integers — w = tf * ((1e6*N) div
    // df), the log-free rational idf (house rule: no libm
    // transcendentals in a published value) — and the dot/norm
    // sufficient statistics are DECIMAL(19,0)^2 products summed
    // exactly, so the float-sum-order trap never appears: doubles
    // enter only in the final row-local sqrt/divide, rounded to 1e-6
    // on both engines. Bounds: w < 1e19 holds through N < 1e13 docs,
    // the products through any corpus below 1e38 (q100/q103
    // contract). Candidates are the q128 rule (>= 2 shared df<=8
    // shingles) — rarity is exactly what the weights up-weight, so
    // the cap prunes where the score concentrates.
    // Scale: tf checkpointed once (df, weight, rare and both dot
    // sides read ONE materialization); shingles ride xxhash64 (the
    // oracle keeps text — a collision fails loudly); the dot join's
    // fan-out is bounded by doc length; shuffle_hash pinned — weight
    // frames scale with the corpus.
    Q("q132_tfidf_pairs",
      (s, dir) => {
        import s.implicits._
        val tf = Dedup.shingles(documents(s, dir))
          .select($"doc_id", xxhash64($"s").as("sh"))
          .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val nDocs = documents(s, dir).agg(count(lit(1)).as("nd"))
        val df = tf.groupBy($"sh").agg(count(lit(1)).as("dfc"))
        val dec = DecimalType(19, 0)
        // Overflow contract for the DECIMAL(38,0) sufficient-statistic
        // sums: each product w*w is bounded by (tf * 1e6 * nd)^2 < 1e38
        // per term, but the SUM over a doc's shingles is only bounded
        // by n_shingles * max(w)^2 — which CAN exceed 38 digits on a
        // large corpus (nd ~ 1e9 docs with 1e6-shingle docs overflows).
        // Spark (non-ANSI) returns silent NULL on decimal-sum overflow
        // and the >= 0.5 filter would quietly drop the pair; DuckDB
        // throws. `loud` makes Spark match DuckDB: overflow becomes a
        // raise_error naming the rescale fix (shrink the 1e6 idf
        // constant), never a silently smaller result set.
        def loud(c: Column, what: String): Column =
          when(c.isNull, raise_error(lit(
            s"q132: DECIMAL(38,0) overflow in $what — the w*w sum no longer " +
              "fits 38 digits at this corpus scale; shrink the 1e6 idf scale " +
              "constant (both engines) to restore headroom")))
            .otherwise(c)
        val w = tf.join(df, "sh")
          .crossJoin(broadcast(nDocs))
          .select($"doc_id", $"sh",
            expr("tf * ((1000000 * nd) DIV dfc)").as("w"))
        val n2 = w.groupBy($"doc_id")
          .agg(sum($"w".cast(dec) * $"w".cast(dec)).as("n2"))
        val rareSh = tf.join(df.filter($"dfc" <= 8), "sh")
        val cand = rareSh.as("a").join(rareSh.as("b"),
            $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
          .agg(count(lit(1)).as("shared")).filter($"shared" >= 2)
          .select($"ida", $"idb")
        val dots = cand
          .join(w.as("x").hint("shuffle_hash"), $"ida" === $"x.doc_id")
          .join(w.as("y").hint("shuffle_hash"),
            $"idb" === $"y.doc_id" && $"x.sh" === $"y.sh")
          .groupBy($"ida", $"idb")
          .agg(sum($"x.w".cast(dec) * $"y.w".cast(dec)).as("dot"))
        dots
          .join(n2.as("nx").hint("shuffle_hash"), $"ida" === $"nx.doc_id")
          .join(n2.as("ny").hint("shuffle_hash"), $"idb" === $"ny.doc_id")
          .select($"ida", $"idb",
            round(loud($"dot", "dot").cast(DoubleType) /
              (sqrt(loud($"nx.n2", "n2").cast(DoubleType)) *
                sqrt(loud($"ny.n2", "n2").cast(DoubleType))), 6)
              .as("cosine"))
          .filter($"cosine" >= 0.5)
          .orderBy($"ida", $"idb")
      },
      Some(s"""${Dedup.shingleCte},
        tfq AS (SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS tf
                FROM sh GROUP BY 1, 2),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        dfq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dfc FROM tfq GROUP BY s),
        wt AS (SELECT tfq.doc_id, tfq.s,
                 tfq.tf * ((1000000 * nd.nd) // dfq.dfc) AS w
               FROM tfq JOIN dfq ON tfq.s = dfq.s CROSS JOIN nd),
        n2 AS (SELECT doc_id,
                 SUM(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS n2
               FROM wt GROUP BY doc_id),
        rare AS (SELECT tfq.doc_id, tfq.s FROM tfq JOIN dfq ON tfq.s = dfq.s
                 WHERE dfq.dfc <= 8),
        cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
                 FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        dots AS (SELECT c.ida, c.idb,
                   SUM(CAST(x.w AS DECIMAL(19,0)) * CAST(y.w AS DECIMAL(19,0))) AS dot
                 FROM cand c
                 JOIN wt x ON x.doc_id = c.ida
                 JOIN wt y ON y.doc_id = c.idb AND x.s = y.s
                 GROUP BY c.ida, c.idb)
        SELECT d.ida, d.idb,
          ROUND(CAST(d.dot AS DOUBLE) /
            (sqrt(CAST(nx.n2 AS DOUBLE)) * sqrt(CAST(ny.n2 AS DOUBLE))), 6) AS cosine
        FROM dots d JOIN n2 nx ON d.ida = nx.doc_id JOIN n2 ny ON d.idb = ny.doc_id
        WHERE ROUND(CAST(d.dot AS DOUBLE) /
            (sqrt(CAST(nx.n2 AS DOUBLE)) * sqrt(CAST(ny.n2 AS DOUBLE))), 6) >= 0.5
        ORDER BY ida, idb""")),

    // ---- GPT-style sequence packing with cross-chunk splits (q153) ---
    // q74 packs whole docs into token-budget shards; THIS is the other
    // packing a pretraining loader needs: concatenate each source's
    // token stream and cut it into fixed ctx=256-token chunks, docs
    // SPLIT across chunk boundaries. Output = the span table the
    // loader ships: for every (doc, chunk) overlap, the doc-relative
    // offset, span length, and position inside the chunk — enough to
    // reassemble every chunk and to mask cross-doc attention.
    // Scale: the running offset is q74's DISTRIBUTED TWO-PHASE PREFIX
    // SUM (4096-doc buckets -> tiny per-bucket offset frame -> join
    // back on the key the big side already shuffled by), never a
    // per-source window over the whole crawl. The chunk fan-out per
    // doc is 1 + n_tokens/ctx rows via sequence+explode — linear in
    // the doc's own length, independent of corpus size.
    Q("q153_sequence_pack",
      (s, dir) => {
        import s.implicits._
        val ctx = 256L
        val t = documents(s, dir)
          .withColumn("n_tokens", size(split(lower($"text"), "\\W+")).cast(LongType))
          .withColumn("bkt", expr("doc_id DIV 4096"))
        val wIn = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy($"source").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy($"source", $"bkt").agg(sum($"n_tokens").as("bt"))
          .withColumn("off", coalesce(sum($"bt").over(wOff), lit(0L)))
          .select($"source", $"bkt", $"off")
        t.withColumn("cum_in", sum($"n_tokens").over(wIn))
          .join(offsets, Seq("source", "bkt"))
          .withColumn("cum", $"cum_in" + $"off")
          .withColumn("st", $"cum" - $"n_tokens")
          .select($"source", $"doc_id", $"st", $"cum",
            explode(sequence(expr(s"st DIV $ctx"), expr(s"(cum - 1) DIV $ctx"))).as("chunk"))
          .withColumn("seg_start", greatest($"st", $"chunk" * ctx))
          .select($"source", $"chunk", $"doc_id",
            ($"seg_start" - $"st").as("doc_off"),
            (least($"cum", ($"chunk" + 1L) * ctx) - $"seg_start").as("n_tok"),
            ($"seg_start" - $"chunk" * ctx).as("chunk_off"))
          .orderBy($"source", $"chunk", $"chunk_off", $"doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, source,
               CAST(len(string_split_regex(lower(text), '\W+')) AS BIGINT) AS n_tokens
             FROM documents),
        c AS (SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
        s AS (SELECT doc_id, source, cum, cum - n_tokens AS st FROM c),
        x AS (SELECT source, doc_id, st, cum,
               CAST(UNNEST(range(st // 256, (cum - 1) // 256 + 1)) AS BIGINT) AS chunk
             FROM s)
        SELECT source, chunk, doc_id,
          CAST(GREATEST(st, chunk * 256) - st AS BIGINT) AS doc_off,
          CAST(LEAST(cum, (chunk + 1) * 256) - GREATEST(st, chunk * 256) AS BIGINT) AS n_tok,
          CAST(GREATEST(st, chunk * 256) - chunk * 256 AS BIGINT) AS chunk_off
        FROM x ORDER BY source, chunk, chunk_off, doc_id""")),

    // ---- √-temperature token-budget allocation (q175, new r7) --------
    // The multinomial mixture-weighting step of mT5/mBERT-style
    // training (sample source s with p ∝ n_s^α): at α = 0.5 the
    // temperature is sqrt — the ONE power that is cross-engine exact,
    // because IEEE 754 requires sqrt correctly rounded while libm's
    // pow/exp/ln are not (the registry's standing no-libm rule). Each
    // source's share of a fixed 1 M-token budget is B·√n_s / Σ√n_s,
    // made an EXACT integer partition by largest-remainder rounding
    // (floor everything, then +1 to the k = B − Σfloor largest
    // remainders, source-asc ties) — Σ alloc = B is an identity of the
    // output, not a hope, and the spec asserts it. Σ√n goes through
    // dsum (decimal quantization) so the denominator cannot drift with
    // summation order; every other double op is a fixed
    // multiply/divide/floor chain on identical inputs.
    //
    // Scale: per-source token counts are ONE map-only pass (size of
    // the filtered token array — no explode) + a partial-combined
    // source aggregate; everything after is |sources|-scale metadata —
    // the remainder ranking is a theta self-join on that frame (q134's
    // grid class, whitelisted), NEVER a global rank window.
    Q("q175_temperature_alloc",
      (s, dir) => tempAllocFrame(s, dir).orderBy(col("source")),
      Some(s"""
        WITH ${Dedup.toksCteSql},
        $tempAllocCteSql
        SELECT source, n_tokens, alloc_tokens FROM alloc ORDER BY source""")),

    // ---- mixture-epoch materialization (q180, new r7) ----------------
    // q175 decides how many tokens each source CONTRIBUTES; this is the
    // step that turns that budget into the actual training list: a
    // per-document integer repeat count such that Σ repeats·n_tokens
    // lands on the source's allocation. Deterministic scheme (the
    // sampling-with-replacement limit every loader converges to):
    // full epochs = alloc DIV src_tokens for every doc, plus ONE extra
    // repeat for a deterministic pseudo-random prefix — docs ordered
    // by (md5(doc_id), doc_id), taken until the cumulative token count
    // reaches alloc MOD src_tokens (the boundary doc is included, so
    // the per-source overshoot is < its longest doc — asserted in the
    // spec). Upsampling (alloc > src_tokens, the low-resource case √-
    // temperature exists for) and partial passes fall out of the same
    // two integers.
    //
    // Scale: shares q175's alloc chain (|sources|-scale metadata) and
    // the q153 class's DISTRIBUTED TWO-PHASE PREFIX SUM — the running
    // token count in hash order buckets by the hash's FIRST HEX NIBBLE
    // (lexicographic bucket order = hash order, so per-bucket sums +
    // a ≤16-row per-source offset frame replace any whole-source
    // window). One exchange for the bucketed window, one broadcast
    // metadata join; repeat counts never materialize as rows.
    Q("q180_epoch_materialize",
      (s, dir) => {
        import s.implicits._
        val docTok = Dedup.withToks(documents(s, dir))
          .select($"source", $"doc_id",
            size(filter($"toks", t => length(t) > 0)).cast(LongType).as("n_tokens"))
          .withColumn("h", md5($"doc_id".cast(StringType)))
          .withColumn("bkt", substring($"h", 1, 1))
        val wIn = Window.partitionBy($"source", $"bkt").orderBy($"h", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wOff = Window.partitionBy($"source").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = docTok.groupBy($"source", $"bkt").agg(sum($"n_tokens").as("bt"))
          .withColumn("off", coalesce(sum($"bt").over(wOff), lit(0L)))
          .select($"source", $"bkt", $"off")
        // a source whose documents ALL tokenize empty (src_tokens = 0)
        // has nothing to materialize — and an unguarded DIV/% by zero
        // would diverge the engines (Spark NULL vs DuckDB error), so
        // the degenerate case is excluded IDENTICALLY on both sides
        val alloc = tempAllocFrame(s, dir)
          .select($"source", $"n_tokens".as("src_tokens"), $"alloc_tokens")
          .filter($"src_tokens" > 0)
        docTok
          .withColumn("cin", coalesce(sum($"n_tokens").over(wIn), lit(0L)))
          .join(offsets, Seq("source", "bkt"))
          .withColumn("cum_before", $"cin" + $"off")
          .join(broadcast(alloc), Seq("source"))
          .select($"source", $"doc_id", $"n_tokens",
            (expr("alloc_tokens DIV src_tokens") +
              when($"cum_before" < expr("alloc_tokens % src_tokens"), 1L)
                .otherwise(0L)).as("repeats"))
          .orderBy($"source", $"doc_id")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        $tempAllocCteSql,
        dt AS (SELECT source, doc_id,
                 CAST(len(list_filter(w, t -> len(t) > 0)) AS BIGINT) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR)) AS h
               FROM toksc),
        cb AS (SELECT source, doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
               FROM dt)
        SELECT cb.source AS source, cb.doc_id, cb.n_tokens,
          CAST(a.alloc_tokens // a.n_tokens
            + CASE WHEN cb.cum_before < a.alloc_tokens % a.n_tokens
                   THEN 1 ELSE 0 END AS BIGINT) AS repeats
        FROM cb JOIN alloc a ON a.source = cb.source
        WHERE a.n_tokens > 0
        ORDER BY cb.source, cb.doc_id""")),

    // ---- length-bucket padding-waste audit (q181, new r7) ------------
    // The batching-efficiency companion of q153: if the loader pads
    // each document to its power-of-two length bucket (bucketed
    // batching) instead of packing the token stream, how many padding
    // tokens does each bucket burn? Buckets are next-pow2(n_tokens)
    // floored at 16 — computed by BINARY DIGIT COUNT (length of bin(),
    // q176's integer-log2 trick; shiftleft materializes the power), so
    // the banding is pure integer math, no libm. Per bucket: docs,
    // real tokens, padded slots, padding overhead, and fill efficiency
    // — the table that prices bucketed batching against q153's packed
    // stream (whose waste is ~0 by construction).
    //
    // Scale: map-only bucket computation, ONE partial-combined
    // aggregate over ≤~16 bucket keys, metadata-scale output.
    Q("q181_padding_waste",
      (s, dir) => {
        import s.implicits._
        Dedup.withToks(documents(s, dir))
          .select(size(filter($"toks", t => length(t) > 0))
            .cast(LongType).as("n_tokens"))
          .withColumn("bucket",
            greatest(lit(16L),
              expr("CAST(shiftleft(1L, length(bin(greatest(n_tokens, 1L) - 1L))) AS BIGINT)")))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
          .select($"bucket", $"n_docs", $"sum_tokens",
            ($"n_docs" * $"bucket" - $"sum_tokens").as("pad_tokens"),
            round(($"n_docs" * $"bucket" - $"sum_tokens").cast(DoubleType) /
              ($"n_docs" * $"bucket"), 6).as("pad_frac"),
            round($"sum_tokens".cast(DoubleType) / ($"n_docs" * $"bucket"), 6)
              .as("fill_efficiency"))
          .orderBy($"bucket")
      },
      Some(s"""
        WITH ${Dedup.toksCteSql},
        nt AS (SELECT CAST(len(list_filter(w, t -> len(t) > 0)) AS BIGINT)
                 AS n_tokens FROM toksc),
        b AS (SELECT n_tokens,
                GREATEST(CAST(16 AS BIGINT),
                  CAST(CAST(1 AS BIGINT) << length(bin(GREATEST(n_tokens, 1) - 1))
                    AS BIGINT)) AS bucket
              FROM nt),
        g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
              FROM b GROUP BY bucket)
        SELECT bucket, n_docs, sum_tokens,
          CAST(n_docs * bucket - sum_tokens AS BIGINT) AS pad_tokens,
          ROUND(CAST(n_docs * bucket - sum_tokens AS DOUBLE) / (n_docs * bucket), 6)
            AS pad_frac,
          ROUND(CAST(sum_tokens AS DOUBLE) / (n_docs * bucket), 6)
            AS fill_efficiency
        FROM g ORDER BY bucket""")),

    // ---- shuffle-mix audit (q183, new r7) ----------------------------
    // Is the training order actually shuffled? The loader order is the
    // deterministic (md5(doc_id), doc_id) permutation (q180's hash
    // order — the order the materialized epochs stream in); the audit
    // compares, per source, the OBSERVED count of same-source adjacent
    // pairs against the EXPECTATION under a uniform random permutation
    // (E[same] = n_s(n_s-1)/N summed adjacencies). mix_ratio ≈ 1 means
    // the hash order mixes sources as well as a true shuffle; ≫ 1 is
    // source clumping (curriculum leakage into what the model sees as
    // i.i.d. batches), which md5 order rules out BY CONSTRUCTION here
    // — the audit is the proof the pipeline gets to print.
    //
    // Scale: the global-adjacency count NEVER runs a global window —
    // the q153/q180 two-phase trick: the lag window is bucketed by the
    // hash's first hex nibble (lex bucket order = hash order), and the
    // ≤16 bucket-boundary adjacencies come from a 16-row first/last
    // frame (struct min/max per bucket) theta-joined to its successor
    // (metadata-scale BNLJ, whitelisted). One doc-scale exchange for
    // the window, partial-combined counts everywhere else.
    Q("q183_shuffle_mix_audit",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
          .select($"doc_id", $"source")
          .withColumn("h", md5($"doc_id".cast(StringType)))
          .withColumn("bkt", substring($"h", 1, 1))
        val wIn = Window.partitionBy($"bkt").orderBy($"h", $"doc_id")
        val innerSame = docs
          .withColumn("prev_src", lag($"source", 1).over(wIn))
          .filter($"prev_src" === $"source")
          .groupBy($"source").agg(count(lit(1)).as("c"))
        val ends = docs
          .groupBy($"bkt")
          .agg(min(struct($"h", $"doc_id", $"source")).as("first"),
            max(struct($"h", $"doc_id", $"source")).as("last"))
          .localCheckpoint(true) // ≤16 rows: one per hex nibble
        val bndSame = ends.as("a")
          .join(ends.as("b"), $"b.bkt" > $"a.bkt")
          .groupBy($"a.bkt", $"a.last")
          .agg(min(struct($"b.bkt", $"b.first")).as("nb"))
          .filter($"last.source" === $"nb.first.source")
          .select($"last.source".as("source"))
          .groupBy($"source").agg(count(lit(1)).as("c"))
        val same = innerSame.union(bndSame)
          .groupBy($"source").agg(sum($"c").as("same_adj"))
        val nsrc = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        val ntot = docs.agg(count(lit(1)).as("n"))
        nsrc.join(same, Seq("source"), "left")
          .na.fill(0L, Seq("same_adj"))
          .crossJoin(broadcast(ntot))
          .select($"source", $"n_docs", $"same_adj",
            round(($"n_docs" * ($"n_docs" - 1L)).cast(DoubleType) / $"n", 6)
              .as("exp_same"),
            when($"n_docs" > 1L,
              round($"same_adj".cast(DoubleType) * $"n" /
                ($"n_docs" * ($"n_docs" - 1L)), 6)).as("mix_ratio"))
          .orderBy($"source")
      },
      Some(s"""
        WITH d AS (SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        sq AS (SELECT source, LAG(source) OVER (ORDER BY h, doc_id)
                 AS prev_src FROM d),
        sa AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS same_adj
               FROM sq WHERE prev_src = source GROUP BY source),
        ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM d GROUP BY source),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        SELECT ns.source AS source, ns.n_docs,
          CAST(COALESCE(sa.same_adj, 0) AS BIGINT) AS same_adj,
          ROUND(CAST(ns.n_docs * (ns.n_docs - 1) AS DOUBLE) / nt.n, 6)
            AS exp_same,
          CASE WHEN ns.n_docs > 1 THEN
            ROUND(CAST(COALESCE(sa.same_adj, 0) AS DOUBLE) * nt.n
              / (ns.n_docs * (ns.n_docs - 1)), 6) END AS mix_ratio
        FROM ns LEFT JOIN sa ON sa.source = ns.source, nt
        ORDER BY ns.source"""))
  )

  /** The √-temperature allocation frame (source, n_tokens,
    * alloc_tokens) — q175's published output, and the budget q180
    * materializes. ONE construction (and one oracle CTE,
    * [[tempAllocCteSql]]) so the decider and the materializer cannot
    * drift. See q175's scaladoc for the determinism contract
    * (cross-engine-exact sqrt, dsum denominator, largest-remainder
    * integer partition). */
  private def tempAllocFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 1000000L
    val tok = Dedup.withToks(documents(s, dir))
      .select($"source",
        size(filter($"toks", t => length(t) > 0)).cast(LongType).as("nt"))
      .groupBy($"source").agg(sum($"nt").as("n_tokens"))
      .withColumn("w", sqrt($"n_tokens".cast(DoubleType)))
    val tot = tok.agg(dsum($"w", 10).as("tw"))
    val raw = tok.crossJoin(broadcast(tot))
      .withColumn("raw", lit(budget.toDouble) * $"w" / $"tw")
      .withColumn("fl", floor($"raw").cast(LongType))
      .withColumn("rem", $"raw" - floor($"raw"))
      .localCheckpoint(true)
    val short = raw.agg((lit(budget) - sum($"fl")).as("k"))
    val ranked = raw.as("a")
      .join(raw.as("b"),
        ($"b.rem" > $"a.rem") ||
          ($"b.rem" === $"a.rem" && $"b.source" < $"a.source"), "left")
      .groupBy($"a.source", $"a.n_tokens", $"a.fl")
      .agg((count($"b.source") + 1).as("rnk"))
    ranked.crossJoin(broadcast(short))
      .select($"source", $"n_tokens",
        ($"fl" + when($"rnk" <= $"k", 1L).otherwise(0L)).as("alloc_tokens"))
  }

  /** Oracle twin of [[tempAllocFrame]]: must follow the toksc CTE;
    * ends in `alloc(source, n_tokens, alloc_tokens)`. */
  private val tempAllocCteSql: String = s"""
        tok AS (SELECT source,
                  CAST(SUM(len(list_filter(w, t -> len(t) > 0))) AS BIGINT) AS n_tokens
                FROM toksc GROUP BY source),
        tw AS (SELECT ${dsumSql("sqrt(CAST(n_tokens AS DOUBLE))", 10)} AS tw FROM tok),
        raw AS (SELECT source, n_tokens,
                  1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / tw.tw AS raw
                FROM tok, tw),
        fr AS (SELECT source, n_tokens,
                 CAST(FLOOR(raw) AS BIGINT) AS fl, raw - FLOOR(raw) AS rem
               FROM raw),
        k AS (SELECT 1000000 - SUM(fl) AS k FROM fr),
        rk AS (SELECT a.source, a.n_tokens, a.fl,
                 1 + (SELECT COUNT(*) FROM fr b
                      WHERE b.rem > a.rem
                         OR (b.rem = a.rem AND b.source < a.source)) AS rnk
               FROM fr a),
        alloc AS MATERIALIZED (SELECT rk.source, rk.n_tokens,
          CAST(rk.fl + CASE WHEN rk.rnk <= k.k THEN 1 ELSE 0 END AS BIGINT)
            AS alloc_tokens
        FROM rk, k)"""
}
