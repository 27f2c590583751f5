package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-3 curation & representation operators [EXT]: corpus-wide
  * segment-level dedup (RefinedWeb-style repeated-span removal,
  * Penedo et al. 2023 §3.3), benchmark-contamination severity levels
  * (the graded form of q71's binary gate), rational-idf keyword
  * extraction, binary-column (multimodal blob) plumbing with a cross-engine
  * oracle, token-budget mixture packing, and sign-bit embedding
  * sketches with banded near-dup pairing (1-bit quantization, the
  * memory-lean sibling of the q33/q55 cosine paths).
  *
  * Scale notes on each query; common theme as TrainingOps: candidates
  * come from bounded-fan-out equi-joins, small sides are broadcast,
  * per-row work is map-only.
  */
object CurationOps {
  import Tables._

  private val toksCte = Dedup.toksCteSql

  /** The 63-sign-bit sketch — the single source of truth shared by q85
    * (published fingerprints) and q86 (pairing built ON those
    * fingerprints), so an edit to the packing can't silently diverge
    * them. Spark expression and oracle CTE are the same construction:
    * bit j set iff embedding[j] > 0, bit 63 unused (keeps the packed
    * value in signed-64 range in both engines). */
  private val sketchExpr: String =
    """aggregate(sequence(0, 62), 0L, (acc, j) ->
         acc + CASE WHEN element_at(embedding, j + 1) > 0.0
                    THEN shiftleft(1L, j) ELSE 0L END)"""

  private val sketchCteSql: String =
    """sk AS (SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 63), j ->
           CASE WHEN embedding[j + 1] > 0 THEN (CAST(1 AS BIGINT) << j)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sketch
       FROM embeddings)"""

  /** q115's PII surface — (pattern, placeholder) in application order
    * (email first so its digits can't be half-eaten by the IP rule).
    * Patterns stay in the Java-regex/RE2 common subset so Spark and
    * DuckDB agree. Shared with CurationOpsSpec, which proves the
    * chain leaves NO residual match of any pattern. */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\b555-[0-9]{4}\\b" -> "[PHONE]",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "[IP]")

  /** The three-stage redaction chain over an arbitrary string column. */
  private[graft] def piiRedacted(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, tag)) => regexp_replace(acc, pat, tag) }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    * token 3-gram hashes (12-hex md5 prefixes — fixed-width lowercase
    * hex, so lexicographic min == numeric min in both engines), then
    * the min of each sliding window of w=4 gram hashes, deduplicated.
    * Guarantee: two docs sharing >= k+w-1 = 6 consecutive tokens share
    * at least one fingerprint (tested in CurationOpsSpec). Returns the
    * exploded (doc_id, fp) frame. Row-local array work — no explode of
    * raw grams, no shuffle until the caller aggregates. */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    // Plan shape (rebuilt in r4 after a measured blow-up): the first
    // form kept everything row-local in nested higher-order-function
    // lambdas. Two problems at once: (a) HOFs never enter codegen, and
    // CollapseProject inlines the gram-hash alias into EVERY sliding-
    // window reference, so each window re-derived the whole gram array
    // — split, n-gram assembly, one md5 per gram — O(n^2) md5 work in
    // interpreted eval (measured: 500+ s of CPU on ONE sf0.1 task);
    // (b) q116 consumes the fingerprint frame five times (cardinality,
    // DF cap, both sides of the pair join), re-running that projection
    // each time. This is exactly the shape the near-dup family solved:
    // EXPLODE the grams (one Generate per doc), hash per ROW inside
    // whole-stage codegen, take the w=4 window min with a real window
    // frame — whose doc_id exchange is also what parallelizes a
    // byte-dense single-file scan across cores — and materialize the
    // selected fingerprints ONCE (eager localCheckpoint, the
    // docShingleSets pattern). Winnowing keeps the min of each
    // COMPLETE window (pos <= n-4); docs with fewer than 4 grams keep
    // the min of what they have (the pos=0 truncated window).
    import org.apache.spark.sql.expressions.Window
    val grams = Dedup.withToks(docs)
      .select(col("doc_id"), posexplode(expr(Dedup.gramArraySql(3))))
      .toDF("doc_id", "pos", "g")
      .withColumn("gh", substring(md5(col("g")), 1, 12))
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    val wAll = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("wmin", min(col("gh")).over(wWin))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("pos") <= greatest(col("n") - 4, lit(0)))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
      .localCheckpoint(true)
  }

  def queries: Vector[Q] = Vector(
    // ---- corpus-wide segment dedup -----------------------------------
    // Repeated-span removal: docs are cut into consecutive 8-token
    // segments and a segment that already occurred anywhere else in
    // the corpus (first occurrence = smallest (doc_id, pos)) is
    // dropped; surviving segments are reassembled in order. This is
    // the segment-granular middle ground between exact doc dedup (q25)
    // and near-dup doc removal (q79): boilerplate shared across
    // otherwise-distinct docs is removed exactly once.
    // Scale: one explode (corpus token stream / 8 rows), one window on
    // the segment hash — skew on a mega-frequent segment is bounded
    // because the window only ranks rows WITHIN one segment's
    // partition (no cross-key fan-out), and the reassembly groupBy is
    // keyed by doc_id (uniform). No all-pairs anything.
    Q("q80_segment_dedup",
      (s, dir) => {
        import s.implicits._
        val seg = 8
        val docs = Dedup.withToks(documents(s, dir))
        // let-bound toks (the gramArraySql idiom): the lambda's
        // per-segment slice must not re-run the split via
        // CollapseProject inlining
        val chunks = docs.select($"doc_id",
            posexplode(expr(
              s"""transform(array(toks), __tk ->
                    transform(sequence(0, CAST((size(__tk) + ${seg - 1}) div $seg AS INT) - 1),
                              i -> concat_ws(' ', slice(__tk, i * $seg + 1, $seg))))[0]""")))
          .toDF("doc_id", "pos", "chunk")
        val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"pos")
        chunks.withColumn("rn", row_number().over(w))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("total_segs"),
            sum(when($"rn" === 1, 1L).otherwise(0L)).as("kept_segs"),
            array_join(
              transform(
                array_sort(collect_list(when($"rn" === 1, struct($"pos", $"chunk")))),
                x => x.getField("chunk")),
              " ").as("text_clean"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        chunks AS (SELECT doc_id, i AS pos,
            array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS chunk
          FROM toksc, UNNEST(range(0, (len(w) + 7) // 8)) AS t(i)),
        rn AS (SELECT doc_id, pos, chunk,
            ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          FROM chunks)
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS total_segs,
          CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
          COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '') AS text_clean
        FROM rn GROUP BY doc_id ORDER BY doc_id""")),

    // ---- contamination severity levels -------------------------------
    // The graded form of q71: per corpus doc, the fraction of its
    // DISTINCT 5-grams that appear in the benchmark slice (source =
    // 'src0'), bucketed clean / low / high. Drop-vs-keep policies at
    // scale key off the severity, not the binary flag, so EVERY corpus
    // doc gets a row: docs too short to carry a 5-gram (< 5 tokens)
    // can't overlap anything and are 'clean' with zero grams — a
    // severity join against the corpus must never come back empty.
    // Same broadcast shape as q71: the benchmark gram set is small by
    // construction, the corpus side never shuffles for the membership
    // test.
    Q("q81_contamination_levels",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val g5 = Dedup.withToks(docs)
          .select($"doc_id", $"source", explode(expr(Dedup.gramArraySql(5))).as("g"))
          .distinct()
        val bench = g5.filter($"source" === "src0").select($"g").distinct()
          .withColumn("hit", lit(1))
        val agg = g5.filter($"source" =!= "src0")
          .join(broadcast(bench), Seq("g"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("gram_count"),
            sum(coalesce($"hit", lit(0))).cast(LongType).as("hit_count"))
        docs.filter($"source" =!= "src0").select($"doc_id")
          .join(agg, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"gram_count", lit(0L)).as("n_grams"),
            coalesce($"hit_count", lit(0L)).as("n_hits"))
          .select($"doc_id", $"n_grams", $"n_hits",
            when($"n_grams" === 0, lit(0.0))
              .otherwise(round($"n_hits".cast(DoubleType) / $"n_grams", 6)).as("share"),
            when($"n_hits" === 0, lit("clean"))
              .when(round($"n_hits".cast(DoubleType) / $"n_grams", 6) < 0.1, lit("low"))
              .otherwise(lit("high")).as("level"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        g5 AS (SELECT DISTINCT doc_id, source,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
               FROM toksc, UNNEST(range(1, len(w) - 3)) AS t(i)),
        bench AS (SELECT DISTINCT g FROM g5 WHERE source = 'src0'),
        agg AS (SELECT c.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS gram_count,
                  CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_count
                FROM (SELECT doc_id, g FROM g5 WHERE source <> 'src0') c
                LEFT JOIN bench b ON c.g = b.g
                GROUP BY c.doc_id),
        full_docs AS (SELECT d.doc_id,
                  COALESCE(a.gram_count, 0) AS n_grams,
                  COALESCE(a.hit_count, 0) AS n_hits
                FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
                WHERE d.source <> 'src0')
        SELECT doc_id, n_grams, n_hits,
          CASE WHEN n_grams = 0 THEN 0.0
               ELSE ROUND(CAST(n_hits AS DOUBLE) / n_grams, 6) END AS share,
          CASE WHEN n_hits = 0 THEN 'clean'
               WHEN ROUND(CAST(n_hits AS DOUBLE) / n_grams, 6) < 0.1 THEN 'low'
               ELSE 'high' END AS level
        FROM full_docs ORDER BY doc_id""")),

    // ---- keyword extraction (rational-idf salience) ------------------
    // Top-3 terms per doc by tf * (N / df) — a log-free idf variant.
    // NOT literal TF-IDF: log only preserves ordering between terms of
    // EQUAL tf, so when tf varies the rational score over-weights rare
    // terms relative to tf * log(N/df) (e.g. tf=1,N/df=16 outranks
    // tf=3,N/df=4 here but not under log-idf). That bias is the price
    // of bit-reproducibility — libm's log drifts across engines and a
    // last-ulp flip near a rounding boundary would fail the oracle's
    // hash compare; the score is a keyword-salience heuristic, not a
    // drop-in TF-IDF. Scale: a doc's term frequencies are ROW-LOCAL
    // (its tokens live in one array), so tf comes from the token_tf
    // codegen kernel in ONE map-only corpus pass — no occurrence-level
    // explode, no (doc_id, tok) exchange. df is then COUNT OVER
    // (PARTITION BY tok) on that same frame rather than a separate
    // groupBy + join: `tf.groupBy(tok)` would be a second REFERENCE to
    // the tf subplan, and Spark physical-plans each reference
    // independently (no subplan reuse without explicit
    // materialization), so the r3 join shape scanned + tokenized +
    // aggregated the corpus TWICE and broadcast the vocabulary back —
    // the r4 bench-gate regression's plan. The window form is one
    // corpus pass and needs no broadcast at all — strictly better at
    // web-corpus vocab sizes where the df frame would outgrow a
    // broadcast (SCALE_DESIGN rule 2). The top-k window partitions by
    // doc_id (uniform, and row_number <= k plans as WindowGroupLimit
    // in Spark 4).
    Q("q82_keyword_scores",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val tf = Dedup.withToks(docs)
          .select($"doc_id", explode(expr("token_tf(toks)")).as("kv"))
          .select($"doc_id", $"kv.tok".as("tok"), $"kv.tf".as("tf"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .withColumn("dfc", count(lit(1)).over(Window.partitionBy($"tok")))
          .crossJoin(broadcast(n))
          .withColumn("score", round($"tf".cast(DoubleType) * $"n_docs" / $"dfc", 6))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok")
        scored.withColumn("kw_rank", row_number().over(w))
          .filter($"kw_rank" <= 3)
          .select($"doc_id", $"kw_rank", $"tok", $"score")
          .orderBy($"doc_id", $"kw_rank")
      },
      Some(s"""
        WITH $toksCte,
        dtok AS (SELECT doc_id, tok
                 FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u WHERE len(tok) > 0),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM dtok GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY tok),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (SELECT doc_id, tok,
                     ROUND(CAST(tf AS DOUBLE) * n_docs / dfc, 6) AS score
                   FROM tf JOIN df USING (tok) CROSS JOIN n),
        rk AS (SELECT doc_id, tok, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS kw_rank
               FROM scored)
        SELECT doc_id, CAST(kw_rank AS INT) AS kw_rank, tok, score
        FROM rk WHERE kw_rank <= 3 ORDER BY doc_id, kw_rank""")),

    // ---- binary-column (blob) plumbing -------------------------------
    // Multimodal lake layout treats payloads as opaque BinaryType with
    // typed metadata (Multimodal.scala); this is the ORACLE-CHECKED
    // slice of that plumbing: build a blob (unhex of md5 — a stand-in
    // for real bytes), take a per-row-sized prefix "thumbnail" with
    // substring-on-binary (the built-in the codec stub uses — no UDF),
    // and publish hex. The oracle never materializes a blob: hex of a
    // binary prefix == hex-string prefix of twice the length, so
    // DuckDB checks the byte math symbolically. Map-only at any scale.
    Q("q83_blob_thumbnails",
      (s, dir) => {
        import s.implicits._
        documents(s, dir)
          .withColumn("blob", unhex(md5($"text")))
          .withColumn("thumb_bytes", (lit(1) + $"doc_id" % 8).cast(IntegerType))
          .select($"doc_id", $"thumb_bytes",
            lower(hex(expr("substring(blob, 1, thumb_bytes)"))).as("thumb_hex"),
            length($"blob").as("blob_bytes"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
          CAST(1 + doc_id % 8 AS INT) AS thumb_bytes,
          substring(md5(text), 1, 2 * CAST(1 + doc_id % 8 AS INT)) AS thumb_hex,
          CAST(16 AS INT) AS blob_bytes
        FROM documents ORDER BY doc_id""")),

    // ---- token-budget mixture packing --------------------------------
    // Fill a per-source token budget in a deterministic pseudo-random
    // order (md5 of doc_id — the same hash-as-rank trick as q24/q73):
    // a doc is taken iff the budget is not yet exhausted when its turn
    // starts. The running total is one window cumsum per source; at
    // 100 TB this is the standard "sample each mixture component to
    // its token share" step, and the window never sees more than one
    // source's stream per partition.
    Q("q84_token_budget_pack",
      (s, dir) => {
        import s.implicits._
        val budget = 3000L
        val d = Dedup.withToks(documents(s, dir))
          .select($"doc_id", $"source",
            size(array_remove($"toks", "")).cast(LongType).as("ntok"),
            md5($"doc_id".cast(StringType)).as("ord"))
        val w = Window.partitionBy($"source").orderBy($"ord")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("cum", sum($"ntok").over(w))
          .filter($"cum" - $"ntok" < budget)
          .select($"doc_id", $"source", $"ntok", $"cum")
          .orderBy($"source", $"cum", $"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        d AS (SELECT doc_id, source,
            CAST(len(list_filter(w, t -> len(t) > 0)) AS BIGINT) AS ntok,
            md5(CAST(doc_id AS VARCHAR)) AS ord
          FROM toksc),
        c AS (SELECT doc_id, source, ntok,
            CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM d)
        SELECT doc_id, source, ntok, cum FROM c
        WHERE cum - ntok < 3000 ORDER BY source, cum, doc_id""")),

    // ---- sign-bit embedding sketch (1-bit quantization) --------------
    // 63 sign bits of the embedding packed into one BIGINT — the
    // axis-aligned special case of hyperplane LSH (q55) and the
    // cheapest usable vector fingerprint: 8 bytes per vector, computed
    // row-local (map-only). Bit 63 is left unused so the packed value
    // stays in signed-64 range in BOTH engines without the HUGEINT
    // mod-2^64 contortions (sign comparisons are exact — no float
    // drift — so the sketch is bit-reproducible cross-engine).
    Q("q85_sign_sketch",
      (s, dir) => {
        import s.implicits._
        embeddings(s, dir)
          .select($"vec_id", expr(sketchExpr).as("sketch"))
          .orderBy($"vec_id")
      },
      Some(s"""
        WITH $sketchCteSql
        SELECT vec_id, sketch FROM sk ORDER BY vec_id""")),

    // ---- sign-sketch near-dup pairs (banded LSH) ---------------------
    // Embedding near-dup via the q85 sketch: 8 bands of 8 bits, a pair
    // is a candidate iff it collides in SOME band (equi-join on
    // (band, value) — never all pairs), then the exact Hamming check
    // keeps distance <= 16. Recall is PROBABILISTIC, exactly like
    // q27's minhash banding: a qualifying pair is found iff some band
    // is flip-free (h=14 -> ~68% per pair) — the standard LSH trade;
    // radius-exact banding (bands > radius) is impossible here because
    // sign flips on even strongly-cosine-similar vectors concentrate
    // near h~14 of 63. Band fan-out is bounded by the 8-bit key; the
    // verify join touches only candidates.
    Q("q86_sign_dup_pairs",
      (s, dir) => {
        import s.implicits._
        val sk = embeddings(s, dir)
          .select($"vec_id", expr(sketchExpr).as("sketch"))
        val bandCols = (0 until 8).map(b => s"$b, shiftright(sketch, ${b * 8}) & 255")
        val bands = sk.selectExpr("vec_id", "sketch",
          s"stack(8, ${bandCols.mkString(", ")}) AS (band, bv)")
        bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bv" === $"b.bv" &&
            $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("ida"), $"b.vec_id".as("idb"),
            $"a.sketch".as("ha"), $"b.sketch".as("hb"))
          .distinct()
          .select($"ida", $"idb",
            expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
          .filter($"hamming" <= 16)
          .orderBy($"ida", $"idb")
      },
      Some(s"""
        WITH $sketchCteSql,
        bands AS (SELECT vec_id, sketch, b AS band,
            (sketch >> (b * 8)) & 255 AS bv
          FROM sk, UNNEST(range(0, 8)) AS t(b)),
        cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb,
                   a.sketch AS ha, b.sketch AS hb
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
        SELECT ida, idb, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 16
        ORDER BY ida, idb""")),

    // ---- per-source curation funnel ----------------------------------
    // The dataset-card view of the whole curation pipeline: per source,
    // how many docs survive each stage — exact dedup (keep-min-doc_id
    // per text, q25/q58 stage 1), component-canonical near-dup removal
    // (q79's survivorship), and the quality gate (q58's shared
    // formula). Stages NEST (each flag implies the previous) so the
    // funnel is monotone per source. One pass over the corpus with
    // three left joins against doc_id sets that are each a small
    // fraction of the corpus; counting is a conditional aggregate, no
    // per-stage rescans. Oracle: the recursive-CTE component closure +
    // the shared quality CTE, a completely different evaluation
    // strategy over the same definitions.
    Q("q88_curation_funnel",
      (s, dir) => {
        import s.implicits._
        // ONE corpus pass feeds the whole funnel: the r3 shape scanned
        // the corpus four times and tokenized it twice (once for the
        // minhash signatures, once for the quality formula) and spent
        // a shuffle join on the quality flag — a per-row map column.
        // Here a single scan+tokenize computes the content hash, the
        // rounded quality and the flattened minhash state, checkpointed
        // once; every funnel stage reads those local blocks. The kernel
        // yields an EMPTY shingle set (null band minima) below 3
        // tokens, so no pre-filter is needed: null band keys never
        // equi-join, and the stack/verify branches prune to the same
        // candidates as the shared q66 path.
        val enriched = Dedup.withQuality(Dedup.withToks(documents(s, dir)))
          .withColumn("h", xxhash64($"text"))
          .withColumn("q", expr("minhash_sig(toks)"))
          .select(Seq(col("doc_id"), col("source"), col("h"), col("quality"),
            col("q.shs").as("shs")) ++
            (0 until graft.functions.MinHashSig.nBands).map(k => col(s"q.mh$k").as(s"mh$k")): _*)
          .withColumn("n", size($"shs").cast(LongType))
          .localCheckpoint(true)
        // keyed by content hash like q25/q58 — text never enters the
        // exchange (oracle groups raw text: collisions fail loudly)
        val exact = enriched.groupBy($"h")
          .agg(min($"doc_id").as("doc_id"))
          .select($"doc_id").withColumn("is_exact", lit(1L))
        val nonCanon = Dedup.componentsFromPairs(s,
            Dedup.nearDupPairsFrom(enriched)
              .filter(round($"jraw", 6) >= 0.5).select($"ida", $"idb"))
          .filter($"doc_id" =!= $"component")
          .select($"doc_id").withColumn("is_noncanon", lit(1L))
        enriched.select($"doc_id", $"source",
            coalesce(when($"quality" >= 0.4, lit(1L)), lit(0L)).as("is_qual"))
          .join(exact, Seq("doc_id"), "left")
          .join(nonCanon, Seq("doc_id"), "left")
          .withColumn("e", coalesce($"is_exact", lit(0L)))
          .withColumn("c", $"e" * when($"is_noncanon".isNull, lit(1L)).otherwise(lit(0L)))
          .withColumn("q", $"c" * $"is_qual")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"e").as("n_exact"),
            sum($"c").as("n_canonical"), sum($"q").as("n_quality"))
          .orderBy($"source")
      },
      Some(s"""${Dedup.componentsCte},
        exact AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        ${Dedup.qualityCte},
        flags AS (SELECT d.doc_id, d.source,
            CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS e,
            CASE WHEN e.doc_id IS NOT NULL AND NOT EXISTS (
                   SELECT 1 FROM comp c
                   WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component)
                 THEN 1 ELSE 0 END AS c
          FROM documents d LEFT JOIN exact e ON d.doc_id = e.doc_id),
        qpass AS (SELECT doc_id FROM quality WHERE quality >= 0.4)
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(e) AS BIGINT) AS n_exact,
          CAST(SUM(c) AS BIGINT) AS n_canonical,
          CAST(SUM(CASE WHEN flags.c = 1 AND q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
        FROM flags LEFT JOIN qpass q ON flags.doc_id = q.doc_id
        GROUP BY source ORDER BY source""")),

    // ---- PII detection + redaction (q115) ----------------------------
    // Regex-based PII scrubbing — the standard privacy pass every
    // released training corpus runs (emails, phone numbers, IPv4
    // addresses -> typed placeholders). The synthetic corpus contains
    // no PII, so the query first derives a PII-bearing column
    // DETERMINISTICALLY from real inputs (doc_id/source embedded as an
    // email, a 555- phone and a 10.x address mid-text) — the operator
    // under test is the redaction chain, and both engines build the
    // same input. Patterns stay in the Java-regex/RE2 common subset
    // (\b, classes, bounded quantifiers) so the engines agree.
    // Scale: redaction is per-row map work inside codegen
    // (regexp_replace/regexp_extract_all are built-ins, no UDF); the
    // only exchange is the final |sources|-sized aggregate. Counts and
    // char sums are exact integers — exact oracle.
    Q("q115_pii_redact",
      (s, dir) => {
        import s.implicits._
        val Seq((emailPat, _), (phonePat, _), (ipPat, _)) = piiPatterns
        documents(s, dir)
          .withColumn("aug", concat(
            expr("substr(text, 1, 40)"), lit(" reach "), $"source", lit("_"),
            $"doc_id".cast("string"), lit("@example.com or 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"), lit(" from 10."),
            ($"doc_id" % 256).cast("string"), lit(".0."),
            expr("(doc_id div 7) % 256").cast("string"), lit(" "),
            expr("substr(text, 41)")))
          .withColumn("redacted", piiRedacted($"aug"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(regexp_extract_all($"aug", lit(emailPat), lit(0)))).as("n_email"),
            sum(size(regexp_extract_all($"aug", lit(phonePat), lit(0)))).as("n_phone"),
            sum(size(regexp_extract_all($"aug", lit(ipPat), lit(0)))).as("n_ip"),
            sum(length($"redacted")).as("redacted_chars"))
          .orderBy($"source")
      },
      Some(raw"""
        WITH aug AS (SELECT source,
            concat(substr(text, 1, 40), ' reach ', source, '_',
              CAST(doc_id AS VARCHAR), '@example.com or 555-',
              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' from 10.',
              CAST(doc_id % 256 AS VARCHAR), '.0.',
              CAST((doc_id // 7) % 256 AS VARCHAR), ' ',
              substr(text, 41)) AS aug
          FROM documents)
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email,
          CAST(SUM(len(regexp_extract_all(aug, '\b555-[0-9]{4}\b'))) AS BIGINT) AS n_phone,
          CAST(SUM(len(regexp_extract_all(aug, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT) AS n_ip,
          CAST(SUM(len(regexp_replace(regexp_replace(regexp_replace(aug,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b555-[0-9]{4}\b', '[PHONE]', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'))) AS BIGINT) AS redacted_chars
        FROM aug GROUP BY source ORDER BY source""")),

    // ---- winnowing fingerprints + overlap pairs (q116) ---------------
    // Document fingerprinting by winnowing (Schleimer, Wilkerson,
    // Aiken, SIGMOD 2003 — the MOSS algorithm): hash every token
    // 3-gram (k=3, via the shared gramArraySql so tokenization can't
    // diverge from the shingle family), then keep the MINIMUM hash of
    // each sliding window of w=4 consecutive gram hashes. The distinct
    // selected hashes are the doc's fingerprint set; any shared
    // substring of >= k+w-1 = 6 tokens is GUARANTEED to contribute at
    // least one common fingerprint. Docs sharing >= 3 fingerprints are
    // overlap pairs (partial plagiarism / boilerplate reuse — the gap
    // between whole-doc fingerprints q32/q43 and Jaccard near-dup
    // q27/q70). Fingerprints are 12-hex-char md5 prefixes: fixed-width
    // lowercase hex compares lexicographically == numerically, so
    // array_min/list_min agree across engines bit-for-bit.
    // Scale: gram hashing runs per exploded row inside whole-stage
    // codegen; window-min selection is one doc_id-keyed window pass
    // (the only full-gram-stream exchange), and the ~n_toks/w selected
    // fingerprints are materialized ONCE for all five consumers (see
    // winnowFps). The pair join is a DF-capped inverted index exactly
    // like q70: fingerprints seen in > 50 docs are boilerplate and
    // carry no pair evidence, so the self-join fan-out per fingerprint
    // is bounded by the cap.
    Q("q116_winnow_overlap",
      (s, dir) => {
        import s.implicits._
        // r14 (guide §2.6): the winnow fingerprint map (md5 per
        // 3-gram + window-min) ran serially off the single-row-group
        // scan. sf0.1 is noise-band (min 1.52 -> 1.46) but the serial
        // stage grows linearly: 10x A/B measured 6.40 -> 3.99 s min
        // (plans/r14 logs). Spread kept on the 10x evidence.
        val fps = winnowFps(documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
        val card = fps.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val rare = fps.join(
          fps.groupBy($"fp").agg(count(lit(1)).as("dfc")).filter($"dfc" <= 50), "fp")
        rare.as("a").join(rare.as("b"),
            $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
          .agg(count(lit(1)).as("shared"))
          .filter($"shared" >= 3)
          .join(card.select($"doc_id".as("ida"), $"n".as("na")), "ida")
          .join(card.select($"doc_id".as("idb"), $"n".as("nb")), "idb")
          .select($"ida", $"idb", $"shared",
            round($"shared".cast(DoubleType) / least($"na", $"nb"), 6).as("overlap"))
          .orderBy($"ida", $"idb")
      },
      Some(raw"""
        WITH toksc AS (SELECT doc_id, string_split_regex(lower(text), '\W+') AS w
                       FROM documents),
        gh AS (SELECT doc_id,
            list_transform(range(1, len(w) - 1), i ->
              substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 12)) AS gh
          FROM toksc),
        wins AS (SELECT doc_id,
            CASE WHEN len(gh) >= 4
                 THEN list_distinct(list_transform(range(1, len(gh) - 2),
                                    i -> list_min(list_slice(gh, i, i + 3))))
                 WHEN len(gh) > 0 THEN [list_min(gh)]
                 ELSE [] END AS fps
          FROM gh),
        fpx AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
        card AS (SELECT doc_id, COUNT(*) AS n FROM fpx GROUP BY doc_id),
        dfc AS (SELECT fp FROM fpx GROUP BY fp HAVING COUNT(*) <= 50),
        rare AS (SELECT f.doc_id, f.fp FROM fpx f JOIN dfc USING (fp)),
        pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                    CAST(COUNT(*) AS BIGINT) AS shared
                  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
                  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        SELECT ida, idb, shared,
          ROUND(CAST(shared AS DOUBLE) / least(ca.n, cb.n), 6) AS overlap
        FROM pairs JOIN card ca ON ida = ca.doc_id
                   JOIN card cb ON idb = cb.doc_id
        ORDER BY ida, idb""")),

    // ---- unigram-LM document scoring (q117) --------------------------
    // Corpus-frequency quality scoring — the exact-arithmetic form of
    // the CCNet/Wenzek-style "score each doc under a language model of
    // the corpus" filter: build the corpus unigram table, join it back,
    // and score each doc by its tokens' corpus frequencies (mean
    // frequency, rarest-token frequency, and the fraction of tokens
    // that are RARE). Rare is defined RELATIVE to the corpus — token
    // count c is rare iff c * 2 * vocab < total_tokens (i.e. c is
    // under half the mean token count) — so the threshold is
    // scale-invariant and the comparison stays in exact integer/
    // decimal arithmetic (a log-prob formulation would put libm ulp
    // drift between the engines; frequencies ARE the model here).
    // Scale: one explode (corpus token stream), one vocabulary-sized
    // aggregate joined back to the stream, one doc-keyed aggregate
    // (uniform). The freq frame is CORPUS-DERIVED (web-corpus vocab is
    // 1e8+ rows), so it carries no broadcast hint — SCALE_DESIGN rule 2;
    // AQE broadcasts it only when runtime stats say it is actually
    // small, and falls back to a shuffle join on `tok` at corpus scale.
    // The 1-row (total, vocab) scalar rides a whitelisted broadcast.
    // Divisions happen once per doc on exact ints, then round(…, 6) —
    // both engines correctly-round IEEE doubles.
    Q("q117_unigram_rarity",
      (s, dir) => {
        import s.implicits._
        val tx = TextAnalysis.withToksNe(documents(s, dir))
          .select($"doc_id", explode($"toks_ne").as("tok"))
        val freq = tx.groupBy($"tok").agg(count(lit(1)).as("c"))
        val tot = freq.agg(sum($"c").as("t"), count(lit(1)).as("v"))
        tx.join(freq, "tok").crossJoin(tot)
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_toks"),
            min($"c").as("min_freq"),
            round(davg($"c", 0), 6).as("mean_freq"),
            round(sum(when($"c".cast(DecimalType(38, 0)) * lit(2) * $"v" < $"t", 1L)
              .otherwise(0L)).cast(DoubleType) / count(lit(1)), 6).as("rare_ratio"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH toksc AS (SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
          FROM documents),
        tx AS (SELECT doc_id, unnest(toks) AS tok FROM toksc),
        freq AS (SELECT tok, COUNT(*) AS c FROM tx GROUP BY tok),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM freq)
        SELECT tx.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_toks,
          MIN(f.c) AS min_freq,
          ROUND(${Tables.davgSql("f.c", 0)}, 6) AS mean_freq,
          ROUND(CAST(SUM(CASE WHEN CAST(f.c AS DECIMAL(38,0)) * 2 * tot.v < tot.t
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS rare_ratio
        FROM tx JOIN freq f ON tx.tok = f.tok, tot
        GROUP BY tx.doc_id ORDER BY tx.doc_id""")),

    // ---- duplicated-span coverage per source (q119) ------------------
    // The measurement companion to q80's segment REWRITE: how much of
    // each source is corpus-repeated boilerplate? Every 8-token
    // segment is keyed by a 16-hex md5 (fixed-width exchange payload —
    // the same function in both engines, so hash collisions, were any
    // to occur, collide identically and cannot diverge the oracle);
    // a segment occurring > 1 time anywhere in the corpus is
    // duplicated. Per source: pooled (micro) duplicated-segment
    // coverage and the count of docs that are >= half duplicates —
    // the number policy decisions key off. All integer arithmetic
    // except ONE division rounded to 1e-6; the >= half test is exact
    // (2*n_dup >= n_segs — no float boundary).
    // Scale: q80 needs a WINDOW on the segment key (row_number — no
    // partial aggregation, a mega-frequent boilerplate segment lands
    // on one task). Counting needs neither ordering nor row identity,
    // so q119 uses groupBy(seg) + join-back instead: the count
    // aggregate partial-combines map-side (a 1e9-occurrence segment
    // contributes ONE row per input partition to the exchange) and the
    // join-back is an equi-join AQE can skew-split. Both sides are
    // corpus-derived — no broadcast hint (SCALE_DESIGN rule 2).
    Q("q119_dup_span_coverage",
      (s, dir) => {
        import s.implicits._
        val seg = 8
        // let-bound toks, as in q80 — see gramArraySql's scaladoc
        val chunks = Dedup.withToks(documents(s, dir))
          .select($"doc_id", $"source", posexplode(expr(
            s"""transform(array(toks), __tk ->
                  transform(sequence(0, CAST((size(__tk) + ${seg - 1}) div $seg AS INT) - 1),
                            i -> substring(md5(concat_ws(' ', slice(__tk, i * $seg + 1, $seg))), 1, 16)))[0]""")))
          .toDF("doc_id", "source", "pos", "seg_h")
        val occ = chunks.groupBy($"seg_h").agg(count(lit(1)).as("occ"))
        val perDoc = chunks.join(occ, "seg_h")
          .groupBy($"doc_id", $"source")
          .agg(count(lit(1)).as("n_segs"),
            sum(when($"occ" > 1, 1L).otherwise(0L)).as("n_dup"))
        perDoc.groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_segs").as("total_segs"),
            sum($"n_dup").as("dup_segs"),
            round(sum($"n_dup").cast(DoubleType) / sum($"n_segs"), 6).as("dup_coverage"),
            sum(when($"n_dup" * 2 >= $"n_segs", 1L).otherwise(0L)).as("n_heavy"))
          .orderBy($"source")
      },
      Some(s"""
        WITH $toksCte,
        chunks AS (SELECT doc_id, source, i AS pos,
            substr(md5(array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')), 1, 16) AS seg_h
          FROM toksc, UNNEST(range(0, (len(w) + 7) // 8)) AS t(i)),
        occ AS (SELECT seg_h, COUNT(*) AS occ FROM chunks GROUP BY seg_h),
        per_doc AS (SELECT doc_id, source,
            CAST(COUNT(*) AS BIGINT) AS n_segs,
            CAST(SUM(CASE WHEN occ.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
          FROM chunks JOIN occ USING (seg_h)
          GROUP BY doc_id, source)
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_segs) AS BIGINT) AS total_segs,
          CAST(SUM(n_dup) AS BIGINT) AS dup_segs,
          ROUND(CAST(SUM(n_dup) AS DOUBLE) / SUM(n_segs), 6) AS dup_coverage,
          CAST(SUM(CASE WHEN n_dup * 2 >= n_segs THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
        FROM per_doc GROUP BY source ORDER BY source""")),

    // ---- out-of-vocabulary rate (corpus-vocab quality gate) ----------
    // Per-doc fraction of token OCCURRENCES outside the corpus'
    // top-1000 vocabulary — the classic cheap quality signal: gibberish,
    // boilerplate-stripped residue and wrong-language docs all surface
    // as high OOV mass. Vocabulary = top-1000 tokens by total corpus
    // frequency with (count DESC, tok) as the total tie-break order, so
    // the 1000-boundary is deterministic. The rate is one exact
    // integer division rounded once; token-less docs publish 0.0 (the
    // q97 left-join convention). Scale: the token stream collapses to
    // (doc_id, tok, tf) in ONE doc-keyed aggregate before any join —
    // the vocab probe joins per DISTINCT doc-term, not per occurrence;
    // the vocab side is corpus-derived (vocabulary-sized), so it
    // carries NO broadcast hint (SCALE_DESIGN rule 2) — AQE broadcasts
    // the 1000-row frame at every realistic size, and the top-1000
    // itself plans as TakeOrderedAndProject over the (already
    // aggregated) term-frequency frame — per-partition heaps, no full
    // sort.
    Q("q122_oov_rate",
      (s, dir) => {
        import s.implicits._
        val docs = documents(s, dir)
        val tf = Dedup.withToks(docs)
          .select($"doc_id", explode($"toks").as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val vocab = tf.groupBy($"tok").agg(sum($"tf").as("cf"))
          .orderBy($"cf".desc, $"tok").limit(1000)
          .select($"tok", lit(1).as("in_vocab"))
        val perDoc = tf.join(vocab, Seq("tok"), "left")
          .groupBy($"doc_id")
          .agg(sum($"tf").as("n_tok"),
            sum(when($"in_vocab".isNull, $"tf").otherwise(lit(0L))).as("n_oov"))
        docs.select($"doc_id")
          .join(perDoc, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_tok", lit(0L)).as("n_tok"),
            coalesce($"n_oov", lit(0L)).as("n_oov"),
            when($"n_tok".isNull, lit(0.0))
              .otherwise(round($"n_oov".cast(DoubleType) / $"n_tok", 6)).as("oov_rate"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $toksCte,
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksc) u
               WHERE len(tok) > 0 GROUP BY 1, 2),
        vocab AS (SELECT tok FROM
                    (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY tok)
                  ORDER BY cf DESC, tok LIMIT 1000),
        per_doc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tok,
                      CAST(SUM(CASE WHEN v.tok IS NULL THEN tf.tf ELSE 0 END) AS BIGINT) AS n_oov
                    FROM tf LEFT JOIN vocab v ON tf.tok = v.tok
                    GROUP BY tf.doc_id)
        SELECT d.doc_id,
          COALESCE(p.n_tok, 0) AS n_tok,
          COALESCE(p.n_oov, 0) AS n_oov,
          CASE WHEN p.n_tok IS NULL THEN 0.0
               ELSE ROUND(CAST(p.n_oov AS DOUBLE) / p.n_tok, 6) END AS oov_rate
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id"""))
    ,

    // ---- n-gram novelty curve (ingestion-order diminishing returns) --
    // Docs bucketed by ingestion order (doc_id DIV 100 — doc_id is the
    // arrival sequence in this corpus); per bucket, the fraction of its
    // distinct 3-gram shingles never seen in ANY earlier bucket. The
    // falling novelty curve is the standard "is more of this source
    // still adding information?" curation signal. First-occurrence is a
    // gram-keyed MIN — fully partial-aggregable, no window, no order
    // dependence; the bucket rollup is a second bounded agg. Shingles
    // ride 64-bit hashes end-to-end (the q70/q125 trade: the oracle
    // keeps raw text, so a collision fails the gate loudly); a bucket's
    // novelty is independent of partitioning, so the result is
    // deterministic under any cluster layout.
    Q("q127_novelty_curve",
      (s, dir) => {
        import s.implicits._
        val bsh = Dedup.shingles(documents(s, dir))
          .select(expr("doc_id DIV 100").as("bucket"), xxhash64($"s").as("sh"))
          .distinct()
        val first = bsh.groupBy($"sh").agg(min($"bucket").as("fb"))
        bsh.join(first, "sh")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_grams"),
            sum(when($"fb" === $"bucket", 1L).otherwise(0L)).as("n_new"))
          .withColumn("novelty",
            round($"n_new".cast(DoubleType) / $"n_grams", 6))
          .orderBy($"bucket")
      },
      Some(s"""${Dedup.shingleCte},
        bsh AS (SELECT DISTINCT doc_id // 100 AS bucket, s FROM sh),
        fb AS (SELECT s, MIN(bucket) AS fb FROM bsh GROUP BY s)
        SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN f.fb = b.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          ROUND(CAST(SUM(CASE WHEN f.fb = b.bucket THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 6) AS novelty
        FROM bsh b JOIN fb f ON b.s = f.s
        GROUP BY b.bucket ORDER BY bucket""")),

    // ---- multi-signal rank fusion (per-source quality blend) ---------
    // Reciprocal-rank-fusion's integer cousin: rank each doc within its
    // source under three independent signals (chars, token count,
    // distinct-token count), sum the ranks, keep the best 10 per
    // source. Rank-domain blending is how curation pipelines combine
    // incommensurable quality scores without normalizing scales; the
    // integer rank sum keeps the whole query float-free until nothing
    // is left to diverge. Ranks are row_number with a doc_id tiebreak —
    // fully deterministic on ties (documented: equal metric values get
    // distinct ranks by id, the price of cross-engine determinism).
    // Scale: all four windows share ONE partitioning (source) — a
    // single exchange, then in-partition sorts; the final top-10 is a
    // WindowGroupLimit-eligible row_number filter, so each partition
    // retains only its head.
    Q("q129_rank_blend",
      (s, dir) => {
        import s.implicits._
        val m = Dedup.withToks(documents(s, dir))
          .withColumn("tne", expr("filter(toks, t -> length(t) > 0)"))
          .select($"source", $"doc_id", $"n_chars",
            size($"tne").cast(LongType).as("n_toks"),
            size(array_distinct($"tne")).cast(LongType).as("n_distinct"))
        def rk(c: org.apache.spark.sql.Column) = row_number().over(
          Window.partitionBy($"source").orderBy(c.desc, $"doc_id"))
        val ranked = m
          .withColumn("r_len", rk($"n_chars"))
          .withColumn("r_tok", rk($"n_toks"))
          .withColumn("r_div", rk($"n_distinct"))
          .withColumn("blend", ($"r_len" + $"r_tok" + $"r_div").cast(LongType))
        ranked
          .withColumn("rk", row_number().over(
            Window.partitionBy($"source").orderBy($"blend", $"doc_id")))
          .filter($"rk" <= 10)
          .select($"source", $"doc_id", $"r_len", $"r_tok", $"r_div",
            $"blend", $"rk")
          .orderBy($"source", $"rk")
      },
      Some(s"""
        WITH $toksCte,
        m AS (SELECT t.source, t.doc_id, d.n_chars,
                len(list_filter(t.w, x -> len(x) > 0)) AS n_toks,
                len(list_distinct(list_filter(t.w, x -> len(x) > 0))) AS n_distinct
              FROM toksc t JOIN documents d ON t.doc_id = d.doc_id),
        ranked AS (SELECT source, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS r_len,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_toks DESC, doc_id) AS r_tok,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_distinct DESC, doc_id) AS r_div
                   FROM m),
        blended AS (SELECT *, CAST(r_len + r_tok + r_div AS BIGINT) AS blend FROM ranked),
        top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY blend, doc_id) AS rk
                FROM blended)
        SELECT source, doc_id, r_len, r_tok, r_div, blend, rk
        FROM top WHERE rk <= 10 ORDER BY source, rk""")),

    // ---- bigram-LM fluency scoring (q154) ----------------------------
    // The CCNet/KenLM-style perplexity quality filter, bigram order:
    // train the LM on the corpus itself (conditional P(w2|w1) from
    // bigram counts; c1 is derived from the SAME bigram stream, so
    // numerator and denominator can never disagree on tokenization),
    // then score every doc by its mean conditional probability and its
    // count of "surprising" transitions (P < 0.001). LOG-FREE like
    // q145/q132: probabilities ride the integer-scaled floor ratio
    // (1e6*c12 DIV c1) — bit-identical across engines, where ln()'s
    // last ulp is not — so the filter ranks by mean probability rather
    // than geometric-mean perplexity; both order "fluent vs garbage"
    // the same way for filtering.
    // Scale: the bigram stream is the corpus token stream (one explode,
    // same volume as q117's unigram tx); c12 partial-combines map-side
    // into the vocab-pair frame, c1 folds FROM c12 (vocab-sized, never
    // re-reads the corpus). The prob join back to the stream is an
    // equi-join on (w1,w2) AQE can skew-split; no broadcast hint on
    // corpus-derived frames (SCALE_DESIGN rule 2). A mega-frequent
    // bigram contributes ONE row per partition to each exchange.
    Q("q154_bigram_fluency",
      (s, dir) => {
        import s.implicits._
        // r14 (guide §2.6): the bigram explode ran serially off the
        // single-row-group scan for BOTH its consumers (counts +
        // probe side); spread the docs first (the q150 discipline)
        val bi = TextAnalysis.withToksNe(documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
          .select($"doc_id", explode(expr(
            """CASE WHEN size(toks_ne) >= 2
               THEN transform(sequence(0, size(toks_ne) - 2),
                              i -> struct(toks_ne[i] AS w1, toks_ne[i + 1] AS w2))
               ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""")).as("b"))
          .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
        // checkpoint the vocab-pair frame: c12 feeds BOTH c1 and the
        // probability join, and without materialization each consumer
        // re-explodes the full corpus token stream (plan-audited:
        // three Generate nodes); with it the corpus is exploded once
        // for the counts plus once for the per-doc probe side
        val c12 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
          .localCheckpoint(true)
        val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
        val probs = c12.join(c1, "w1")
          .withColumn("p6", expr("(1000000 * c12) DIV c1"))
          .select($"w1", $"w2", $"p6")
        bi.join(probs, Seq("w1", "w2"))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_pairs"),
            round(davg($"p6", 0), 6).as("fluency"),
            sum(when($"p6" < 1000L, 1L).otherwise(0L)).as("n_surprising"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH toksc AS (SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
          FROM documents),
        bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
               FROM toksc, UNNEST(range(1, len(toks))) AS t(i)),
        c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        p AS (SELECT c12.w1, c12.w2, (1000000 * c12.c12) // c1.c1 AS p6
              FROM c12 JOIN c1 ON c12.w1 = c1.w1)
        SELECT bi.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          ROUND(${Tables.davgSql("p.p6", 0)}, 6) AS fluency,
          CAST(SUM(CASE WHEN p.p6 < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_surprising
        FROM bi JOIN p ON bi.w1 = p.w1 AND bi.w2 = p.w2
        GROUP BY bi.doc_id ORDER BY doc_id"""))
  )
}
